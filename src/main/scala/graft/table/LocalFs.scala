package graft.table

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession

/** Hadoop's checksummed local FileSystem, minus one forked process per
  * created file. Without `libhadoop`, `RawLocalFileSystem.setPermission`
  * runs `/bin/chmod` for every file and directory it creates (data files
  * and their `.crc` sidecars alike): ~9 ms each on a 4-CPU VM, and ~217
  * forks per 32-bucket epoch write. [[LocalFs.Raw]] sets the same rwx bits
  * in-process instead; everything else (checksums, renames, listings) is
  * the stock code. Both layers count into Hadoop's own `file` statistics,
  * so the global `file` StorageStatistics still sees every byte. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf) // registers the raw layer's stats first
    statistics =
      FileSystem.getStatistics(getScheme, classOf[LocalFileSystem])
  }
}

object LocalFs {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  class Raw extends RawLocalFileSystem {
    override def initialize(name: URI, conf: Configuration): Unit = {
      // fetched BEFORE super registers this subclass's own entry, so the
      // global `file` StorageStatistics binds to the stock class's counters
      val stats = FileSystem.getStatistics(getUri.getScheme,
        classOf[RawLocalFileSystem])
      super.initialize(name, conf)
      statistics = stats
    }

    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit || !posix)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  private val Impl = "fs.file.impl"
  private val StockImpls =
    Set("", classOf[LocalFileSystem].getName, classOf[LocalFs].getName)

  /** Hadoop keys routing `file:` IO through [[LocalFs]], uncached so no
    * shared FileSystem instance changes. Empty when `conf` already names
    * another local FileSystem: a user's `fs.file.impl` wins. */
  def keys(conf: Configuration): Map[String, String] =
    if (!StockImpls(conf.getTrimmed(Impl, ""))) Map.empty
    else Map(Impl -> classOf[LocalFs].getName,
      s"$Impl.disable.cache" -> "true")

  /** [[keys]] for a DataFrame write in `spark` (`.options(...)`). */
  def keys(spark: SparkSession): Map[String, String] =
    keys(spark.sessionState.newHadoopConf())
}
