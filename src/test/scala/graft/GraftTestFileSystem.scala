package graft

import java.net.URI

/** A Hadoop FileSystem under a NON-`file` scheme (`graftfs://`), backed by
  * the local disk: proves the table/state layer is written against the
  * `org.apache.hadoop.fs.FileSystem` abstraction (hdfs://, s3a://, ...) and
  * not `java.nio` — the storage-portability requirement from VERDICT r1. */
class GraftTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")
}

/** IO-counting FS (`countfs://`), backed by local disk: tallies listings
  * of the table's `meta/` dir — proves the numBuckets cache really does
  * zero repeat listings. */
object CountingGraftFileSystem {
  val metaLists = new java.util.concurrent.atomic.AtomicLong
}
class CountingGraftFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName == "meta") CountingGraftFileSystem.metaLists.incrementAndGet()
    super.listStatus(f)
  }
}

/** Failure-injection FS: every `open` hangs far longer than any test
  * timeout — models a stuck object-store metadata read (FileStats must
  * abort with a bounded timeout instead of stalling the job). */
class SlowGraftFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "slowfs"
  override def getUri: URI = URI.create("slowfs:///")
  override def getFileStatus(f: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = {
    Thread.sleep(600000L)
    super.getFileStatus(f)
  }
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    Thread.sleep(600000L)
    super.open(f, bufferSize)
  }
}

/** A user's own local FileSystem (`fs.file.impl`), counting `create` calls:
  * proves the engine's local IO honours a session that names its own
  * local FS instead of substituting [[graft.table.LocalFs]]. */
object CountingLocalFileSystem {
  val creates = new java.util.concurrent.atomic.AtomicLong
}
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    CountingLocalFileSystem.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}
