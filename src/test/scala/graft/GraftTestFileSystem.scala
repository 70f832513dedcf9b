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
  * timeout, ignoring interrupts like a stuck socket read — models a stuck
  * object-store metadata read (FileStats must abort with a bounded
  * timeout instead of stalling the job, and the stuck thread stays
  * stuck). */
object SlowGraftFileSystem {
  def hang(): Unit = {
    val end = System.nanoTime() + 600000000000L
    while (System.nanoTime() < end)
      try Thread.sleep(1000L) catch { case _: InterruptedException => () }
  }
}
class SlowGraftFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "slowfs"
  override def getUri: URI = URI.create("slowfs:///")
  override def getFileStatus(f: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = {
    SlowGraftFileSystem.hang()
    super.getFileStatus(f)
  }
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    SlowGraftFileSystem.hang()
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

/** Crash-point FS (`faultfs://`), backed by local disk: after
  * `FaultFileSystem.arm(k)` the k-th mutating call (create, rename,
  * delete, mkdirs) throws, leaving the store exactly as a process that
  * died at that step would. Calls nested inside another mutating call
  * (a create making its parent dirs) count once, as part of it. */
object FaultFileSystem {
  private val failAt = new java.util.concurrent.atomic.AtomicLong(0L)
  private val calls = new java.util.concurrent.atomic.AtomicLong(0L)
  private val inCall = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  val Injected = "injected fault"

  /** fail the `k`-th mutating call from now on (k >= 1) */
  def arm(k: Int): Unit = { calls.set(0L); failAt.set(k.toLong) }
  def disarm(): Unit = failAt.set(0L)

  private[graft] def mutating[T](what: String,
      p: org.apache.hadoop.fs.Path)(body: => T): T =
    if (inCall.get) body
    else {
      inCall.set(true)
      try {
        val n = calls.incrementAndGet()
        if (failAt.get > 0 && n == failAt.get)
          throw new java.io.IOException(s"$Injected: $what $p (call $n)")
        body
      } finally inCall.set(false)
    }
}
class FaultFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import FaultFileSystem.mutating
  override def getScheme: String = "faultfs"
  override def getUri: URI = URI.create("faultfs:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating("create", f)(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    mutating("rename", src)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    mutating("delete", p)(super.delete(p, recursive))
  override def mkdirs(f: Path): Boolean =
    mutating("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mutating("mkdirs", f)(super.mkdirs(f, permission))
}
