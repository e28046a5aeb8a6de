package graft.ext

/** Multimodal column plumbing (north-star extension): image/audio/video
  * as opaque `binary` columns with typed metadata, processed by
  * `mapPartitions` over a typed Dataset — the Scala analog of
  * `mapInPandas` batch UDFs. All three codecs are pure-JDK:
  * [[ImageCodec]] decodes PNG/JPEG/GIF/BMP/TIFF via `javax.imageio`
  * (real dimensions + perceptual aHash/dHash features), [[AudioCodec]]
  * decodes WAV/PCM via `javax.sound.sampled` (real format metadata +
  * RMS-envelope features), and [[VideoCodec]] decodes multi-frame
  * animated GIF via the ImageIO sequence API (real frame counts +
  * sampled-frame mean features).
  */
object Multimodal {

  /** A media row: opaque payload + typed, nullable per-kind metadata. */
  case class MediaRow(
      media_id: String,
      kind: String,
      mime: String,
      content: Array[Byte],
      width: Option[Int],
      height: Option[Int],
      duration_ms: Option[Long],
      meta: Option[String])
}
