package graft.table

import graft.model.DataFileEntry
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.io.api.Binary

/**
 * Per-file column statistics from parquet FOOTERS (metadata-only IO — no row
 * data is read). This is the engine's analog of the per-column metrics the
 * reference preserves into Iceberg data-file entries at commit time
 * (gobblin-iceberg/.../writer/IcebergMetadataWriter.java:349-383,664-672 —
 * appendFiles with metrics), which is what enables file-level pruning
 * within a bucket: readers drop files whose stats preclude a match without
 * opening them. The key bounds serve point lookups
 * ([[IceTable.lookupFiles]]); the seq bounds serve incremental reads
 * (`readChangesSince`) and the change feed's fenced-file pruning. The merge
 * uses neither: it rewrites a touched bucket whole, because a bucket file's
 * hashed keys span the key space and no key range could exclude it.
 *
 * Recorded per file:
 *  - `rows`   — footer record count (also feeds the compaction verifier),
 *  - `minKey`/`maxKey` — conservative bounds on the composed row key
 *    `repo \0 path` (NUL-composed so byte order equals (repo, path) struct
 *    order: NUL sorts below every other byte). Built from the per-COLUMN
 *    footer min/max as (min repo, min path) / (max repo, max path) — a
 *    superset of the true composed-key range, which is exactly what a
 *    conservative skip test needs,
 *  - `minSeq`/`maxSeq` — bounds on `lastSeq` (incremental "changes since"
 *    reads skip files whose whole seq range predates the request).
 *
 * These bounds are the only per-file skipping data: the files carry no key
 * blooms, because parquet writes none for a fully dictionary-encoded
 * column chunk, and `repo`/`path` chunks are dictionary-encoded whenever
 * keys repeat across files (as they do in the generator and in real
 * repositories), so a bloom stage never pruned a candidate.
 *
 * All footers of one write are read through one bounded driver thread pool
 * under a shared deadline: one hung object-store metadata read must not
 * stall the job forever (the pool aborts with `shutdownNow` and surfaces
 * the failing path). Missing/truncated footer stats degrade to None — a
 * file without stats is simply never skipped.
 */
object FileStats {

  final case class Stats(
      rows: Long,
      minKey: Option[String], maxKey: Option[String],
      minSeq: Option[Long], maxSeq: Option[Long])

  /** key composition: NUL-separated, so unsigned byte order of the composed
    * string equals lexicographic (repo, path) order */
  val KeySep = "\u0000"

  /** unsigned lexicographic UTF-8 byte comparison — the same order Spark's
    * executors and modern parquet UTF8 stats use (driver-side comparisons
    * must match the executor-side min/max or a skip could be wrong for
    * non-ASCII keys, where UTF-16 `String.compareTo` diverges). Delegates
    * to UTF8String itself so the order can never drift from Spark's. */
  def keyCompare(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  private def utf8Min(s: Statistics[_]): Option[String] = s match {
    case _ if s.isEmpty || !s.hasNonNullValue => None
    case bs: Statistics[_] => bs.genericGetMin match {
      case b: Binary => Some(b.toStringUsingUTF8)
      case _ => None
    }
  }
  private def utf8Max(s: Statistics[_]): Option[String] =
    if (s.isEmpty || !s.hasNonNullValue) None
    else s.genericGetMax match {
      case b: Binary => Some(b.toStringUsingUTF8)
      case _ => None
    }
  private def longMin(s: Statistics[_]): Option[Long] =
    if (s.isEmpty || !s.hasNonNullValue) None
    else s.genericGetMin match { case l: java.lang.Long => Some(l); case _ => None }
  private def longMax(s: Statistics[_]): Option[Long] =
    if (s.isEmpty || !s.hasNonNullValue) None
    else s.genericGetMax match { case l: java.lang.Long => Some(l); case _ => None }

  /** A footer reader built from `conf` itself: `ParquetFileReader.open(in)`
    * without options builds a fresh default Configuration and re-parses
    * `core-default.xml` (~12 ms) on every call. */
  private def open(conf: Configuration, p: org.apache.hadoop.fs.Path) =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  /** footer stats of one file (record count + repo/path/lastSeq min-max,
    * folded across row groups). Any column chunk without usable stats makes
    * that column's bound None. */
  def read(conf: Configuration, path: String): Stats = {
    val r = open(conf, new org.apache.hadoop.fs.Path(path))
    try {
      val blocks = r.getFooter.getBlocks
      var rows = 0L
      // per-column folds; a single chunk without stats poisons the column
      var repoMin, repoMax, pathMin, pathMax: Option[String] = None
      var seqMin, seqMax: Option[Long] = None
      var repoOk, pathOk, seqOk = true
      val it = blocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        rows += b.getRowCount
        val cit = b.getColumns.iterator()
        while (cit.hasNext) {
          val c = cit.next()
          val st = c.getStatistics
          c.getPath.toDotString match {
            case "repo" =>
              (utf8Min(st), utf8Max(st)) match {
                case (Some(lo), Some(hi)) if repoOk =>
                  repoMin = Some(repoMin.fold(lo)(m =>
                    if (keyCompare(lo, m) < 0) lo else m))
                  repoMax = Some(repoMax.fold(hi)(m =>
                    if (keyCompare(hi, m) > 0) hi else m))
                case _ => repoOk = false; repoMin = None; repoMax = None
              }
            case "path" =>
              (utf8Min(st), utf8Max(st)) match {
                case (Some(lo), Some(hi)) if pathOk =>
                  pathMin = Some(pathMin.fold(lo)(m =>
                    if (keyCompare(lo, m) < 0) lo else m))
                  pathMax = Some(pathMax.fold(hi)(m =>
                    if (keyCompare(hi, m) > 0) hi else m))
                case _ => pathOk = false; pathMin = None; pathMax = None
              }
            case "lastSeq" =>
              (longMin(st), longMax(st)) match {
                case (Some(lo), Some(hi)) if seqOk =>
                  seqMin = Some(seqMin.fold(lo)(math.min(_, lo)))
                  seqMax = Some(seqMax.fold(hi)(math.max(_, hi)))
                case _ => seqOk = false; seqMin = None; seqMax = None
              }
            case _ => ()
          }
        }
      }
      val minKey = for (r0 <- repoMin; p0 <- pathMin) yield r0 + KeySep + p0
      val maxKey = for (r0 <- repoMax; p0 <- pathMax) yield r0 + KeySep + p0
      Stats(rows, minKey, maxKey, seqMin, seqMax)
    } finally r.close()
  }

  /** Fill `rows` + stats bounds into each entry via one pooled footer pass.
    * Bounded: at most 16 concurrent metadata reads under ONE shared
    * `timeoutSec` deadline for the whole batch, and the pool is
    * `shutdownNow`n on exit — a hung object-store read (or a full outage
    * hanging every read) can never stall the job past the deadline.
    *
    * Failure policy follows the stats' role. By default (`failFast=false`,
    * the ingest write path) a per-file timeout/error DEGRADES that entry to
    * stats-less (rows stays -1, bounds stay None) and the epoch proceeds —
    * stats are an optimization, and "a file without stats is simply never
    * skipped" must hold on the write side too; a transient metadata blip
    * must not abort a merge whose data files are already published.
    * Callers for whom the counts are a CORRECTNESS gate (compaction /
    * rebucket verifiers) check `rows >= 0` afterwards and abort their
    * commit loudly, or pass `failFast=true` to throw here with the stuck
    * path named. */
  def fillAll(conf: Configuration, files: Seq[DataFileEntry],
              timeoutSec: Long = 120L,
              failFast: Boolean = false): Seq[DataFileEntry] = {
    if (files.isEmpty) return files
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.size))
    try {
      val futs = files.map(f => f -> pool.submit(
        new java.util.concurrent.Callable[Stats] {
          def call(): Stats = read(conf, f.path)
        }))
      // ONE shared deadline across the whole batch — per-future timeouts
      // would stack (a store outage over N hung files would stall
      // N × timeoutSec before the degrade completed)
      val deadline = System.nanoTime() + timeoutSec * 1000000000L
      futs.map { case (f, fut) =>
        val remainingMs =
          math.max(1L, (deadline - System.nanoTime()) / 1000000L)
        val s: Option[Stats] =
          try Some(fut.get(remainingMs,
            java.util.concurrent.TimeUnit.MILLISECONDS))
          catch {
            case e: java.util.concurrent.TimeoutException =>
              if (failFast) throw new IllegalStateException(
                s"footer read timed out after ${timeoutSec}s: ${f.path}", e)
              System.err.println(s"[graft] footer read timed out " +
                s"(${timeoutSec}s): ${f.path}; entry left stats-less")
              None
            case e: java.util.concurrent.ExecutionException =>
              if (failFast) throw new IllegalStateException(
                s"footer read failed: ${f.path}", e.getCause)
              System.err.println(s"[graft] footer read failed: ${f.path} " +
                s"(${e.getCause}); entry left stats-less")
              None
          }
        s.fold(f)(st => f.copy(rows = st.rows, minKey = st.minKey,
          maxKey = st.maxKey, minSeq = st.minSeq, maxSeq = st.maxSeq))
      }
    } finally { pool.shutdownNow(); () }
  }
}
