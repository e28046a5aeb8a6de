package graft

import graft.ext.{ImageCodec, Multimodal}

/** Real-codec image pipeline: ImageIO round-trip ground truth for
  * dimensions, perceptual-hash behavior on near-dup vs unrelated
  * images, and undecodable-payload degradation. */
class ImageCodecSpec extends SparkSpec {
  import spark.implicits._

  private def hamming(a: Long, b: Long): Int =
    java.lang.Long.bitCount(a ^ b)

  test("decode recovers the generated dimensions, deterministically") {
    val png = ImageCodec.syntheticPng(7L, 48, 32)
    val img = ImageCodec.decode(png)
    assert(img.getWidth === 48 && img.getHeight === 32)
    // byte-for-byte reproducible generation → identical features
    val again = ImageCodec.syntheticPng(7L, 48, 32)
    assert(ImageCodec.grayGrid(img, 8).toSeq ===
      ImageCodec.grayGrid(ImageCodec.decode(again), 8).toSeq)
    // centered grid: components sum to ~0 (the DC component is gone)
    val g = ImageCodec.grayGrid(img, 8)
    assert(g.length === 64)
    assert(math.abs(g.sum) < 2.0f, s"centered grid sum ${g.sum}")
  }

  test("aHash/dHash: near-dup variants land close, unrelated images far") {
    val base = ImageCodec.decode(ImageCodec.syntheticPng(1L, 40, 32))
    val near = ImageCodec.decode(
      ImageCodec.syntheticPng(1L, 40, 32, variant = 2L, noiseDen = 96))
    val other = ImageCodec.decode(ImageCodec.syntheticPng(99L, 40, 32))
    assert(hamming(ImageCodec.aHash64(base), ImageCodec.aHash64(near)) <= 10)
    assert(hamming(ImageCodec.dHash64(base), ImageCodec.dHash64(near)) <= 10)
    assert(hamming(ImageCodec.aHash64(base), ImageCodec.aHash64(other)) >= 16)
    assert(hamming(ImageCodec.dHash64(base), ImageCodec.dHash64(other)) >= 16)
  }

  test("extractImageFeatures: real dims per row; undecodable bytes degrade") {
    val media = Seq(
      Multimodal.MediaRow("ok", "image", "image/png",
        ImageCodec.syntheticPng(3L, 56, 24), None, None, None, None),
      Multimodal.MediaRow("bad", "image", "image/png",
        Array[Byte](1, 2, 3), None, None, None, None))
      .toDF()
    val rows = ImageCodec.extractImageFeatures(spark, media)
      .collect().map(r => r.media_id -> r).toMap
    assert(rows("ok").width === 56 && rows("ok").height === 24)
    assert(rows("ok").features.exists(_ != 0.0f))
    assert(rows("bad").width === -1 && rows("bad").height === -1)
    assert(rows("bad").features.forall(_ === 0.0f))
  }
}
