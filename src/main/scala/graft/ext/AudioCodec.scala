package graft.ext

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.AudioSystem

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** REAL audio decoding — `javax.sound.sampled` ships with the JDK
  * (WAV/AIFF/AU PCM), so the audio half of the multimodal family
  * follows the image half ([[ImageCodec]]) out of stub-land: payload
  * bytes → real format metadata (sample rate, channels, bit depth,
  * duration) + an amplitude-envelope feature vector.
  *
  * Features are per-segment RMS over `segments` equal time slices of
  * the PCM stream, CENTERED by the clip's mean RMS (the same
  * DC-component discipline as the image gray grid — uncentered
  * envelopes give any two clips high baseline cosine). Sums of
  * squares are exact integer arithmetic; the final sqrt/centering is
  * IEEE double → float, deterministic across JVMs. Near-dup then
  * rides the SAME hyperplane-LSH cosine path as images and
  * embeddings ([[Similarity.cosineNearDupPairs]]) — no audio-specific
  * dedup code.
  *
  * Reference behavior: binary asset ingestion
  * (`/root/reference/services/api/src/services/globalautoregs.ts:110-121`),
  * extended to the audio modality per the LLM-pipeline brief.
  */
object AudioCodec {

  /** Deterministic synthetic WAV (16-bit PCM mono, little-endian):
    * amplitude-modulated noise — sample i draws from
    * [[ImageCodec.mix]], scaled by a per-segment envelope derived
    * from the seed, so clips sharing a seed share an envelope
    * (near-dups under per-`variant` sample re-rolls) and different
    * seeds are unrelated. Real RIFF/WAVE bytes via AudioSystem — the
    * decode path under test reads genuine codec output. */
  def syntheticWav(seed: Long, sampleRate: Int, nSamples: Int,
      variant: Long = 0L, noiseDen: Int = 0,
      envSegments: Int = 64): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val seg = math.min(i * envSegments / nSamples, envSegments - 1)
      // envelope in [1/8, 1]: loud and quiet segments per seed
      val envNum = 1L + (ImageCodec.mix(seed * 7919L + seg) & 0x7L)
      val base = ImageCodec.mix(seed * 1000003L + i)
      var s = ((base & 0xFFFFL) - 32768L) * envNum / 8L
      if (noiseDen > 0 && variant != 0L &&
          java.lang.Long.remainderUnsigned(
            ImageCodec.mix(base ^ ImageCodec.mix(variant)),
            noiseDen.toLong) == 0L)
        s = ((ImageCodec.mix(base + variant) & 0xFFFFL) - 32768L) / 2L
      val v = s.toInt
      pcm(i * 2) = (v & 0xff).toByte
      pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  case class AudioFeatureRow(
      media_id: String,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      duration_ms: Long,
      features: Array[Float])

  /** Decode one payload: real format metadata + the centered
    * per-segment RMS envelope. Returns null on undecodable input. */
  def decodeFeatures(content: Array[Byte], segments: Int)
      : AudioFeatureRow = {
    if (content == null) return null
    val ais =
      try AudioSystem.getAudioInputStream(new ByteArrayInputStream(content))
      catch { case _: Exception => return null }
    try {
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian) return null
      val nFrames = ais.getFrameLength
      val bytes = ais.readAllBytes()
      val ch = fmt.getChannels
      val nSamples = bytes.length / 2
      if (nSamples == 0) return null
      // per-segment integer sum of squares over all channels
      val sums = new Array[Long](segments)
      val counts = new Array[Long](segments)
      var i = 0
      while (i < nSamples) {
        val v = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toLong
        val seg = math.min(i * segments / nSamples, segments - 1)
        sums(seg) += v * v
        counts(seg) += 1L
        i += 1
      }
      val rms = Array.tabulate(segments)(s =>
        if (counts(s) == 0L) 0.0
        else math.sqrt(sums(s).toDouble / counts(s)))
      val mean = rms.sum / segments
      val durationMs =
        if (nFrames > 0) nFrames * 1000L / fmt.getSampleRate.toLong
        else nSamples.toLong / ch * 1000L / fmt.getSampleRate.toLong
      AudioFeatureRow("", fmt.getSampleRate.toInt, ch, 16, durationMs,
        rms.map(r => (r - mean).toFloat))
    } finally ais.close()
  }

  /** Batch audio decode over media rows — same per-partition
    * streaming shape as [[ImageCodec.extractImageFeatures]];
    * undecodable payloads yield (-1) metadata and zero features. */
  def extractAudioFeatures(spark: SparkSession, media: DataFrame,
      segments: Int = 64): Dataset[AudioFeatureRow] = {
    import spark.implicits._
    media.as[Multimodal.MediaRow].mapPartitions { it =>
      it.map { row =>
        val f = decodeFeatures(row.content, segments)
        if (f == null)
          AudioFeatureRow(row.media_id, -1, -1, -1, -1L,
            new Array[Float](segments))
        else f.copy(media_id = row.media_id)
      }
    }
  }
}
