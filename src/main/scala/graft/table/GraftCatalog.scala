package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.Serialization

/**
 * Durable name→table catalog: the cross-session discovery surface the
 * reference gets from registering published data in a shared Hive metastore
 * (gobblin-core/.../publisher/HiveRegistrationPublisher.java:71; module
 * gobblin-hive-registration/) — so OTHER sessions and engines can find a
 * table by name, with no path handed around. No metastore exists in this
 * environment, so the catalog is a tiny versioned json in a shared
 * directory, committed with the exact CAS discipline snapshots use:
 *
 *  - state lives in `cat-<version>.json` files; the current catalog is the
 *    HIGHEST committed version (rename-published, so a listed file is
 *    always complete — no pointer file, nothing to torn-write);
 *  - an update is read-modify-write: serialize the new full map to a tmp
 *    name, rename WITHOUT overwrite to `cat-<version+1>.json`; losing the
 *    rename CAS means a concurrent registrar won — re-read and retry
 *    (registrations are tiny and idempotent, so bounded retries suffice);
 *  - all IO goes through Hadoop FileSystem, so the catalog can live on any
 *    durable shared store (file://, hdfs://, s3a://), same as tables.
 *
 * A catalog entry records the table DIRECTORY plus its construction
 * parameters — enough for any session to build an equivalent handle. Table
 * STATE is never duplicated here: the table's own snapshot CAS remains the
 * single source of truth; the catalog only maps names to roots, exactly
 * like the reference's Hive registration (location + params, data stays in
 * place).
 */
final class GraftCatalog(val dir: String) {
  import GraftCatalog._
  private implicit val formats: Formats = DefaultFormats

  private val root = new HPath(dir)
  private def hconf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())
  private def fs: FileSystem = root.getFileSystem(hconf)

  private val CatName = """cat-(\d{8,})\.json""".r
  private def catPath(v: Long): HPath = new HPath(root, f"cat-$v%08d.json")

  def currentVersion(): Long = {
    val f = fs
    if (!f.exists(root)) return -1L
    f.listStatus(root).iterator.map(_.getPath.getName).collect {
      case CatName(v) => v.toLong
    }.foldLeft(-1L)(math.max)
  }

  /** the full name→entry map of the current catalog version */
  def tables(): Map[String, Entry] = {
    val v = currentVersion()
    if (v < 0) Map.empty
    else Serialization.read[Seq[Entry]](FsIO.readUtf8(fs, catPath(v)))
      .map(e => e.name -> e).toMap
  }

  def entry(name: String): Option[Entry] = tables().get(name)

  /** Register (or re-point) `name`. CAS read-modify-write with bounded
    * retries; idempotent — re-registering an identical entry is a no-op
    * even without winning a version. */
  def register(name: String, tableDir: String, defaultNumBuckets: Int = 32,
               maxRetries: Int = 10): Entry = {
    require(name.nonEmpty && !name.contains('/'), s"bad table name: $name")
    val e = Entry(name, tableDir, defaultNumBuckets)
    val f = fs
    f.mkdirs(root)
    var left = maxRetries
    while (left > 0) {
      left -= 1
      val v = currentVersion()
      val cur = tables()
      if (cur.get(name).contains(e)) return e // already registered as-is
      val next = (cur + (name -> e)).values.toSeq.sortBy(_.name)
      val tmp = new HPath(root, s".cat-${System.nanoTime()}.tmp")
      val out = f.create(tmp, false)
      try out.write(Serialization.writePretty(next).getBytes("UTF-8"))
      finally out.close()
      if (AtomicRename.renameNoReplace(f, tmp, catPath(v + 1))) return e
      f.delete(tmp, false) // lost the CAS: re-read, merge, retry
    }
    throw new IllegalStateException(
      s"catalog register($name) lost the CAS $maxRetries times; " +
        "too many concurrent registrars")
  }

  def unregister(name: String, maxRetries: Int = 10): Boolean = {
    val f = fs
    var left = maxRetries
    while (left > 0) {
      left -= 1
      val v = currentVersion()
      val cur = tables()
      if (!cur.contains(name)) return false
      val next = (cur - name).values.toSeq.sortBy(_.name)
      val tmp = new HPath(root, s".cat-${System.nanoTime()}.tmp")
      val out = f.create(tmp, false)
      try out.write(Serialization.writePretty(next).getBytes("UTF-8"))
      finally out.close()
      if (AtomicRename.renameNoReplace(f, tmp, catPath(v + 1))) return true
      f.delete(tmp, false)
    }
    throw new IllegalStateException(
      s"catalog unregister($name) lost the CAS $maxRetries times")
  }

  /** Build a table handle by NAME — the discovery path a fresh session
    * uses. The handle reads the table's own snapshots for everything else. */
  def load(name: String): IceTable = {
    val e = entry(name).getOrElse(throw new IllegalArgumentException(
      s"no catalog entry for table '$name' in $dir " +
        s"(known: ${tables().keys.toSeq.sorted.mkString(", ")})"))
    new IceTable(e.dir, e.defaultNumBuckets)
  }

  /** load + register the current snapshot's user view as a temp view in
    * `spark` — name-based SQL access for any session. */
  def loadView(spark: SparkSession, name: String): IceTable = {
    val t = load(name)
    t.registerView(spark, name)
    t
  }
}

object GraftCatalog {
  /** one catalog row: where the table lives + handle construction params
    * (older catalogs may also carry fields no handle takes any more; json
    * extraction ignores them) */
  final case class Entry(name: String, dir: String, defaultNumBuckets: Int)

  def create(dir: String): GraftCatalog = new GraftCatalog(dir)
}
