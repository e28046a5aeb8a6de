package graft

import graft.ext.{ImageCodec, Multimodal, VideoCodec}

/** Real-codec video pipeline: JDK multi-frame GIF round-trip ground
  * truth (lossless gray frames), frame sampling, clip-feature
  * behavior on near-dup vs unrelated clips, and batch degradation. */
class VideoCodecSpec extends SparkSpec {
  import spark.implicits._

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
    }
    dot / math.sqrt(na * nb)
  }

  test("multi-frame GIF round-trips losslessly through the JDK codec") {
    val bytes = VideoCodec.syntheticGif(9L, width = 32, height = 24,
      nFrames = 6)
    val frames = VideoCodec.decodeFrames(bytes)
    assert(frames.length === 6)
    assert(frames.forall(f => f.getWidth == 32 && f.getHeight == 24))
    // pixel-exact round-trip: decoded grays equal the generator's
    frames.zipWithIndex.foreach { case (img, f) =>
      var y = 0
      while (y < 24) {
        var x = 0
        while (x < 32) {
          val want = (ImageCodec.mix(
            9L * 1000003L + (f / 2).toLong * 7919L + y.toLong * 32 + x)
            & 0xffL).toInt
          assert((img.getRGB(x, y) & 0xff) === want,
            s"frame $f pixel ($x,$y)")
          x += 1
        }
        y += 1
      }
    }
  }

  test("frame sampling grid: every k-th from 0, bounded by frame count") {
    assert(VideoCodec.sampleIndices(6, 2) === IndexedSeq(0, 2, 4))
    assert(VideoCodec.sampleIndices(7, 2) === IndexedSeq(0, 2, 4, 6))
    assert(VideoCodec.sampleIndices(1, 3) === IndexedSeq(0))
    assert(VideoCodec.sampleIndices(0, 2) === IndexedSeq())
  }

  test("clip features: near-dup variants close, unrelated clips far") {
    def feat(seed: Long, variant: Long = 0L, den: Int = 0) =
      VideoCodec.clipFeature(
        VideoCodec.decodeFrames(
          VideoCodec.syntheticGif(seed, 32, 24, 6, variant, den)),
        everyK = 2, grid = 8)
    val base = feat(5L)
    val near = feat(5L, variant = 2L, den = 96)
    val other = feat(77L)
    assert(cosine(base, near) > 0.9)
    assert(cosine(base, other) < 0.5)
    // determinism
    assert(base.toSeq === feat(5L).toSeq)
  }

  test("extract batch: real frame counts and dims; undecodable degrades") {
    val media = Seq(
      Multimodal.MediaRow("ok", "video", "image/gif",
        VideoCodec.syntheticGif(7L, 40, 30, 5), None, None, None, None),
      Multimodal.MediaRow("bad", "video", "image/gif",
        Array[Byte](1, 2, 3, 4), None, None, None, None))
      .toDF()
    val rows = VideoCodec.extractVideoFeatures(spark, media, everyK = 2)
      .collect().map(r => r.media_id -> r).toMap
    assert(rows("ok").n_frames === 5)
    assert(rows("ok").n_sampled === 3) // frames 0, 2, 4
    assert(rows("ok").width === 40 && rows("ok").height === 30)
    assert(rows("ok").features.exists(_ != 0.0f))
    assert(rows("bad").n_frames === 0)
    assert(rows("bad").features.forall(_ === 0.0f))
  }
}
