package graft.table

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger,
  AtomicReference, AtomicReferenceArray}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/**
 * Rename-without-overwrite — the commit CAS primitive shared by snapshot
 * publication ([[IceTable.commit]]) and catalog versioning ([[GraftCatalog]]).
 * `FileSystem.rename` is NOT a safe CAS everywhere: on Raw/LocalFileSystem it
 * maps to POSIX rename(2), which silently REPLACES an existing destination.
 * Strongest primitive per scheme:
 *
 *  - `file://`: `Files.createLink` — link(2) is atomic and fails with EEXIST
 *    when the destination exists, a TRUE local CAS (FileContext's local
 *    rename is only a non-atomic existence check in front of rename(2));
 *    stores without hard links degrade to the FileContext path.
 *  - schemes with an AbstractFileSystem binding:
 *    `FileContext.rename(src, dst, Options.Rename.NONE)` — atomic
 *    no-overwrite rename on HDFS-like stores.
 *  - other schemes: best-effort exists-check + rename; the window cannot be
 *    closed without a server-side primitive, and HDFS-like stores fail the
 *    rename on an existing destination anyway.
 */
private[graft] object FsIO {
  /** full small-file read as UTF-8 (snapshot jsons, segments, catalogs) */
  def readUtf8(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Tasks one [[parMap]] call keeps in flight. */
  val MaxInFlight = 16

  /** Driver threads for per-file metadata IO (copies, renames, listings,
    * deletes, footer reads). Cached, so a hung call holds only its own
    * thread and a later call never waits behind it; daemon, so an
    * abandoned hung read never keeps the JVM alive. */
  private val pool = Executors.newCachedThreadPool {
    (r: Runnable) =>
      val t = new Thread(r, "graft-driver-io")
      t.setDaemon(true)
      t
  }

  /** `f` over `items` on the driver IO pool, at most [[MaxInFlight]] at a
    * time, results in input order. Waits for every started task; after a
    * failure no further item starts, and the first failure's own
    * exception is rethrown. An interrupt of the caller also stops further
    * items and still waits for the started ones, then raises
    * `InterruptedException`. */
  def parMap[A, B](items: Seq[A])(f: A => B): Seq[B] =
    parMapWithin(items, Long.MaxValue)(f).map(_.get)

  /** [[parMap]] under one shared deadline of `timeoutMs` for the whole
    * batch: an item not finished by then is None, and the tasks still
    * running are cancelled (interrupted). */
  def parMapWithin[A, B](items: Seq[A], timeoutMs: Long)(
      f: A => B): Seq[Option[B]] = {
    val in = items.toIndexedSeq
    val n = in.size
    val out = new AtomicReferenceArray[Option[B]](n)
    val next = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable]()
    val stopped = new AtomicBoolean(false)
    // MaxInFlight runners pull items in order: the bound holds without a
    // thread per item
    val k = math.min(MaxInFlight, n)
    val ended = new CountDownLatch(k)
    val runners = Seq.fill(k)(pool.submit(new Runnable {
      def run(): Unit = try {
        var i = next.getAndIncrement()
        while (i < n && !stopped.get && failure.get == null) {
          try out.set(i, Some(f(in(i))))
          catch { case t: Throwable => failure.compareAndSet(null, t) }
          i = next.getAndIncrement()
        }
      } finally ended.countDown()
    }))
    val deadline =
      if (timeoutMs == Long.MaxValue) None
      else Some(System.nanoTime() + timeoutMs * 1000000L)
    var interrupted = false
    var waiting = true
    while (waiting) {
      try {
        deadline match {
          case None => ended.await()
          case Some(d) => ended.await(math.max(0L, d - System.nanoTime()),
            TimeUnit.NANOSECONDS)
        }
        waiting = false
      } catch {
        case _: InterruptedException => interrupted = true; stopped.set(true)
      }
    }
    stopped.set(true)
    // the outcome as of the deadline: a task cancelled below cannot
    // change it, nor turn its interrupt into a failure of the call
    val err = failure.get
    val res = (0 until n).map(i => Option(out.get(i)).flatten)
    runners.foreach(_.cancel(true))
    if (interrupted)
      throw new InterruptedException("interrupted while awaiting driver IO")
    Option(err).foreach(e => throw e)
    res
  }
}

private[graft] object AtomicRename {

  /** publish `src` at `dst`, failing (false) when the destination exists */
  def renameNoReplace(f: FileSystem, src: HPath, dst: HPath): Boolean =
    if (Option(f.getUri.getScheme).forall(_ == "file")) {
      // atomic link(2) CAS; f.delete (not nio) also removes the local
      // checksum shadow file of the tmp name
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        f.delete(src, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException |
             _: java.nio.file.FileSystemException =>
          // store without hard links (VFAT/some FUSE mounts) or an odd
          // layout: degrade to the rename path rather than failing every
          // commit (the link CAS is an upgrade, not a requirement)
          fileContextRenameNoReplace(f, src, dst)
      }
    } else fileContextRenameNoReplace(f, src, dst)

  private def fileContextRenameNoReplace(f: FileSystem, src: HPath,
      dst: HPath): Boolean =
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        f.getUri, f.getConf)
      fc.rename(src, dst, org.apache.hadoop.fs.Options.Rename.NONE)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // no AbstractFileSystem binding for this scheme: best-effort guard +
        // FileSystem rename (HDFS-like stores fail it on existing dst anyway)
        try !f.exists(dst) && f.rename(src, dst)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }
}
