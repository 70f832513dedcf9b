package graft.table

import graft.model._
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Manifest (de)serialization via json4s (ships with Spark). */
object ManifestJson {
  private implicit val formats: Formats = DefaultFormats

  def write(m: EpochManifest): String = Serialization.writePretty(m)

  /** Parse a snapshot json. A LEGACY segmented snapshot (file list held in
    * `fileSegs` segment files, not inline) is refused: extraction would drop
    * the unknown field and read it as a table with no files. */
  def parse(s: String): EpochManifest = {
    val j = JsonMethods.parse(s)
    j \ "fileSegs" match {
      case JArray(segs) if segs.nonEmpty =>
        throw new IllegalStateException(
          s"snapshot version ${(j \ "version").extractOpt[Long].getOrElse(-1L)}" +
            s" is a legacy segmented manifest (${segs.size} fileSegs): its " +
            "file list lives in segment files this engine no longer reads")
      case _ => j.extract[EpochManifest]
    }
  }
}
