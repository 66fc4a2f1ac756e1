package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Content-type sniffing for the opt-in MIME filter
  * (reference: src/main.rs:97-110 allow-list; check at :695-707 via libmagic).
  *
  * The reference keeps a file only when libmagic resolves its content to one
  * of 12 audio MIME types. We sniff the same families from magic bytes; the
  * allow-list constant is ported verbatim so downstream policy code matches.
  */
object Magic {
  /** reference: AUDIO_MIME_TYPES, src/main.rs:97-110. */
  val audioMimeTypes: Seq[String] = Seq(
    "audio/mpeg", "audio/wav", "audio/ogg", "audio/flac",
    "audio/vnd.wave", "audio/x-wav", "audio/x-flac", "audio/x-mpeg",
    "audio/x-aiff", "audio/aiff", "audio/x-aac", "audio/aac",
  )

  private def startsWith(b: Array[Byte], off: Int, s: String): Boolean =
    b.length >= off + s.length && s.indices.forall(i => b(off + i) == s.charAt(i).toByte)

  /** Sniff a MIME type from leading magic bytes; None when unrecognized. */
  def sniff(bytes: Array[Byte]): Option[String] = {
    if (bytes == null || bytes.length < 4) return None
    if (startsWith(bytes, 0, "RIFF") && startsWith(bytes, 8, "WAVE")) Some("audio/wav")
    else if (startsWith(bytes, 0, "fLaC")) Some("audio/flac")
    else if (startsWith(bytes, 0, "OggS")) Some("audio/ogg")
    else if (startsWith(bytes, 0, "ID3")) Some("audio/mpeg")
    else if (startsWith(bytes, 0, "FORM") && (startsWith(bytes, 8, "AIFF") || startsWith(bytes, 8, "AIFC")))
      Some("audio/aiff")
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xe0) == 0xe0) {
      // MPEG frame sync: layer bits distinguish AAC ADTS (layer 00) from MP3.
      if ((bytes(1) & 0x06) == 0) Some("audio/aac") else Some("audio/mpeg")
    } else None
  }

  def isAllowedAudio(bytes: Array[Byte]): Boolean =
    sniff(bytes).exists(audioMimeTypes.contains)

  val sniffUdf = udf((b: Array[Byte]) => sniff(b).getOrElse("unknown"))
  def sniffCol(c: Column): Column = sniffUdf(c)
}
