package graft

import graft.ext.{AudioCodec, Multimodal}

/** Real-codec audio pipeline: javax.sound.sampled round-trip ground
  * truth for format metadata, envelope-feature behavior on near-dup
  * vs unrelated clips, and undecodable-payload degradation. */
class AudioCodecSpec extends SparkSpec {
  import spark.implicits._

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
    }
    dot / math.sqrt(na * nb)
  }

  test("decode recovers the generated format, deterministically") {
    val wav = AudioCodec.syntheticWav(3L, sampleRate = 8000, nSamples = 4000)
    val f = AudioCodec.decodeFeatures(wav, segments = 64)
    assert(f.sample_rate === 8000 && f.channels === 1 && f.bits === 16)
    assert(f.duration_ms === 500L) // 4000 samples @ 8 kHz
    assert(f.features.length === 64)
    // centered envelope: components sum to ~0
    assert(math.abs(f.features.sum) < 1e-3f * 64)
    val again = AudioCodec.decodeFeatures(
      AudioCodec.syntheticWav(3L, 8000, 4000), 64)
    assert(f.features.toSeq === again.features.toSeq)
  }

  test("envelope features: near-dup variants close, unrelated clips far") {
    val base = AudioCodec.decodeFeatures(
      AudioCodec.syntheticWav(5L, 8000, 4000), 64)
    val near = AudioCodec.decodeFeatures(
      AudioCodec.syntheticWav(5L, 8000, 4000, variant = 2L, noiseDen = 96), 64)
    val other = AudioCodec.decodeFeatures(
      AudioCodec.syntheticWav(99L, 8000, 4000), 64)
    assert(cosine(base.features, near.features) > 0.9)
    assert(cosine(base.features, other.features) < 0.5)
  }

  test("extract batch: real metadata per row; undecodable bytes degrade") {
    val media = Seq(
      Multimodal.MediaRow("ok", "audio", "audio/wav",
        AudioCodec.syntheticWav(7L, 12000, 6000), None, None, None, None),
      Multimodal.MediaRow("bad", "audio", "audio/wav",
        Array[Byte](1, 2, 3, 4), None, None, None, None))
      .toDF()
    val rows = AudioCodec.extractAudioFeatures(spark, media)
      .collect().map(r => r.media_id -> r).toMap
    assert(rows("ok").sample_rate === 12000)
    assert(rows("ok").duration_ms === 500L)
    assert(rows("ok").features.exists(_ != 0.0f))
    assert(rows("bad").sample_rate === -1)
    assert(rows("bad").features.forall(_ === 0.0f))
  }
}
