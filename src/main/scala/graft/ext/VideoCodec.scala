package graft.ext

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** REAL video-style decoding — the JDK's `javax.imageio` GIF plugin
  * reads and writes MULTI-FRAME (animated) GIF natively, so the whole
  * frame pipeline is production code with zero non-JDK codecs:
  * payload bytes → frame count → every-k-th frame sample → per-frame
  * perceptual features → clip-level feature vector. Container formats
  * that need licensed codecs (mp4/h264) are out of scope; the GIF path
  * proves the Spark-side shape (bounded frame iteration, per-frame features,
  * clip roll-up) against a real multi-frame bitstream.
  *
  * Frame features reuse [[ImageCodec]]'s centered gray-grid — a clip
  * is the MEAN of its sampled frames' grids (temporal average
  * signature: stable under small per-frame noise, discriminative
  * across different sources), so video near-dup rides the SAME
  * embedding-cosine path as images, audio, and text embeddings.
  *
  * Honest decode semantics: frames are decoded as stored. Full-frame
  * GIFs (what the synthetic corpus and most screen-capture exports
  * write) reproduce exactly; delta-encoded GIFs (partial frames +
  * disposal composition) would need canvas replay, which this decoder
  * does NOT do — `decodeFrames` reports each frame's stored size, and
  * callers can detect partial frames by dims ≠ logical screen dims.
  *
  * Reference behavior: binary asset ingestion + near-dup surfacing
  * (`/root/reference/services/api/src/services/globalautoregs.ts:110-121`),
  * extended to the multi-frame media kind.
  */
object VideoCodec {

  /** Deterministic synthetic grayscale animated GIF: frame f's pixels
    * derive from mix(seed, f/2, x, y) — consecutive frame PAIRS share
    * a base pattern so the clip has temporal structure, and a
    * ~1/noiseDen fraction of pixels re-rolls per `variant` (clips
    * sharing a seed are near-duplicates; different seeds are
    * unrelated). Real multi-frame GIF bytes via the JDK encoder — the
    * decode path under test reads genuine codec output. */
  def syntheticGif(seed: Long, width: Int, height: Int, nFrames: Int,
      variant: Long = 0L, noiseDen: Int = 0): Array[Byte] = {
    val frames = (0 until nFrames).map { f =>
      val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val base = ImageCodec.mix(
            seed * 1000003L + (f / 2).toLong * 7919L +
              y.toLong * width + x)
          var gray = (base & 0xffL).toInt
          if (noiseDen > 0 && variant != 0L &&
              java.lang.Long.remainderUnsigned(
                ImageCodec.mix(base ^ ImageCodec.mix(variant)),
                noiseDen.toLong) == 0L)
            gray = (ImageCodec.mix(base + variant) & 0xffL).toInt
          img.getRaster.setSample(x, y, 0, gray)
          x += 1
        }
        y += 1
      }
      img
    }
    encodeGif(frames)
  }

  /** Encode frames as one animated GIF (JDK `gif` writer sequence
    * API). Grayscale frames round-trip losslessly — the encoder emits
    * a 256-gray palette. */
  def encodeGif(frames: Seq[BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty, "cannot encode an empty frame sequence")
    val bos = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(img =>
        writer.writeToSequence(new IIOImage(img, null, null), null))
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Decode every frame of a multi-frame bitstream (empty on
    * undecodable input — callers surface that as a quality verdict,
    * not a crash). */
  def decodeFrames(content: Array[Byte]): IndexedSeq[BufferedImage] = {
    if (content == null) return IndexedSeq.empty
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(content))
    try {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return IndexedSeq.empty
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        (0 until n).map(reader.read)
      } finally reader.dispose()
    } catch {
      case _: java.io.IOException => IndexedSeq.empty
    } finally iis.close()
  }

  /** Every-k-th frame indices (always includes frame 0) — the
    * deterministic sampling grid of the decode side. */
  def sampleIndices(nFrames: Int, everyK: Int): IndexedSeq[Int] = {
    require(everyK >= 1, "sampling stride must be >= 1")
    0 until nFrames by everyK
  }

  /** Clip feature: MEAN of the sampled frames' centered gray-grids.
    * Zero only for an undecodable or perfectly flat clip (the NaN-safe
    * cosine discipline scores those NULL downstream). */
  def clipFeature(frames: IndexedSeq[BufferedImage], everyK: Int,
      grid: Int): Array[Float] = {
    val out = new Array[Float](grid * grid)
    if (frames.isEmpty) return out
    val picks = sampleIndices(frames.length, everyK)
    picks.foreach { i =>
      val g = ImageCodec.grayGrid(frames(i), grid)
      var j = 0
      while (j < out.length) { out(j) += g(j); j += 1 }
    }
    var j = 0
    while (j < out.length) { out(j) /= picks.length; j += 1 }
    out
  }

  case class VideoFeatureRow(
      media_id: String,
      n_frames: Int,
      n_sampled: Int,
      width: Int,
      height: Int,
      features: Array[Float])

  /** Batch clip decode + feature extraction — real frame counts and
    * dims from the codec, sampled-frame mean features. Same
    * per-partition streaming shape as
    * [[ImageCodec.extractImageFeatures]]; undecodable payloads yield
    * (0, 0, -1, -1) and zero features. */
  def extractVideoFeatures(spark: SparkSession, media: DataFrame,
      grid: Int = 8, everyK: Int = 2): Dataset[VideoFeatureRow] = {
    import spark.implicits._
    media.as[Multimodal.MediaRow].mapPartitions { it =>
      it.map { row =>
        val frames = decodeFrames(row.content)
        if (frames.isEmpty)
          VideoFeatureRow(row.media_id, 0, 0, -1, -1,
            new Array[Float](grid * grid))
        else
          VideoFeatureRow(row.media_id, frames.length,
            sampleIndices(frames.length, everyK).length,
            frames.head.getWidth, frames.head.getHeight,
            clipFeature(frames, everyK, grid))
      }
    }
  }
}
