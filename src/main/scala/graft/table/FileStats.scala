package graft.table

import graft.model.DataFileEntry
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.statistics.Statistics

/**
 * Per-file footer statistics from parquet FOOTERS (metadata-only IO — no row
 * data is read). This is the engine's analog of the per-column metrics the
 * reference preserves into Iceberg data-file entries at commit time
 * (gobblin-iceberg/.../writer/IcebergMetadataWriter.java:349-383,664-672 —
 * appendFiles with metrics).
 *
 * Recorded per file:
 *  - `rows`   — footer record count (the compaction and rebucket
 *    verifiers' evidence),
 *  - `minSeq`/`maxSeq` — bounds on `lastSeq` (incremental "changes since"
 *    reads and the change feed's fenced-file pruning skip files whose whole
 *    seq range predates the request).
 *
 * No key bounds are recorded. Min/max pruning pays only when files are
 * clustered on the predicate column, and the engine hashes keys into
 * buckets of one file each, so a bucket file's key range spans nearly the
 * whole key space: a point lookup reads its key's bucket's file, and the
 * pushed key predicate prunes row groups and dictionaries inside it. The
 * files carry no key blooms either: parquet writes none for a fully
 * dictionary-encoded column chunk, and `repo`/`path` chunks are
 * dictionary-encoded whenever keys repeat across files.
 *
 * All footers of one write are read on the engine's driver IO pool
 * ([[FsIO.parMapWithin]]) under a shared deadline: one hung object-store
 * metadata read must not stall the job forever (the reads still running
 * at the deadline are cancelled and the failing path is surfaced).
 * Missing/truncated footer stats degrade to None — a file without stats
 * is simply never skipped.
 */
object FileStats {

  final case class Stats(rows: Long, minSeq: Option[Long], maxSeq: Option[Long])

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

  /** footer stats of one file (record count + lastSeq min-max, folded
    * across row groups). Any chunk without usable stats makes the bounds
    * None. */
  def read(conf: Configuration, path: String): Stats = {
    val r = open(conf, new org.apache.hadoop.fs.Path(path))
    try {
      val blocks = r.getFooter.getBlocks
      var rows = 0L
      // a single chunk without stats poisons the bounds
      var seqMin, seqMax: Option[Long] = None
      var seqOk = true
      val it = blocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        rows += b.getRowCount
        val cit = b.getColumns.iterator()
        while (cit.hasNext) {
          val c = cit.next()
          if (c.getPath.toDotString == "lastSeq") {
            val st = c.getStatistics
            (longMin(st), longMax(st)) match {
              case (Some(lo), Some(hi)) if seqOk =>
                seqMin = Some(seqMin.fold(lo)(math.min(_, lo)))
                seqMax = Some(seqMax.fold(hi)(math.max(_, hi)))
              case _ => seqOk = false; seqMin = None; seqMax = None
            }
          }
        }
      }
      Stats(rows, seqMin, seqMax)
    } finally r.close()
  }

  /** Fill `rows` + stats bounds into each entry via one pooled footer pass.
    * Bounded: the reads run on the driver IO pool ([[FsIO.parMapWithin]],
    * at most [[FsIO.MaxInFlight]] at once) under ONE shared `timeoutSec`
    * deadline for the whole batch, and the reads still running at the
    * deadline are cancelled — a hung object-store read (or a full outage
    * hanging every read) can never stall the job past the deadline, and
    * holds only its own pool thread, so a later call does not queue
    * behind it.
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
    // ONE shared deadline across the whole batch — per-file timeouts
    // would stack (a store outage over N hung files would stall
    // N × timeoutSec before the degrade completed)
    val results = FsIO.parMapWithin(files, timeoutSec * 1000L)(f =>
      scala.util.Try(read(conf, f.path)))
    files.zip(results).map { case (f, r) =>
      val s: Option[Stats] = r match {
        case Some(scala.util.Success(st)) => Some(st)
        case None =>
          if (failFast) throw new IllegalStateException(
            s"footer read timed out after ${timeoutSec}s: ${f.path}")
          System.err.println(s"[graft] footer read timed out " +
            s"(${timeoutSec}s): ${f.path}; entry left stats-less")
          None
        case Some(scala.util.Failure(e)) =>
          if (failFast) throw new IllegalStateException(
            s"footer read failed: ${f.path}", e)
          System.err.println(s"[graft] footer read failed: ${f.path} " +
            s"($e); entry left stats-less")
          None
      }
      s.fold(f)(st =>
        f.copy(rows = st.rows, minSeq = st.minSeq, maxSeq = st.maxSeq))
    }
  }
}
