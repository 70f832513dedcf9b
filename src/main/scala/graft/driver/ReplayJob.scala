package graft.driver

import graft.log.{ChangeLogGen, LogSpec}
import graft.merge.MergeEngine
import graft.model.{ChangeEvent, EpochStats}
import graft.table.{IceTable, LocalFs}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Batch replay driver: folds a change log into an IceTable in E epochs —
 * the Spark analog of Gobblin's job lifecycle (plan WorkUnits → run tasks →
 * publish → persist state; AbstractJobLauncher.launchJob,
 * gobblin-runtime/.../AbstractJobLauncher.java:433-608), where:
 *   - an epoch = one flush interval's worth of the log
 *     (FlushingExtractor.java:84-85);
 *   - epoch planning = seq-range slicing (WorkUnit watermark intervals);
 *   - publish = the atomic manifest commit inside MergeEngine.applyEpoch;
 *   - state persistence = manifest offsets + lineage rows.
 *
 * Resumable: `run` consults the table's committed offsets, so a re-run after
 * a crash (any point, including mid-epoch) starts where it left off; already
 * committed epochs are fenced to no-ops.
 */
object ReplayJob {

  final case class EpochReport(epochId: Long, loSeq: Long, hiSeq: Long,
      skipped: Boolean, stats: EpochStats)

  /** Offset bootstrap for a table with NO committed state — the reference's
    * `bootstrap.with.offset` policy (KafkaSource.java:89-104):
    *  - Earliest: start from the log's beginning (no-op; the default).
    *  - Latest: skip history — commit a metadata-only snapshot claiming
    *    everything up to `latestSeq`, so ingestion starts at the tail.
    *  - Lookback(n): like Latest but leaves the last `n` offsets unclaimed,
    *    so ingestion backfills a bounded window.
    * No-op if the table already has committed offsets (bootstrap only ever
    * applies to a fresh table, like the reference's previous-state check). */
  sealed trait Bootstrap
  case object Earliest extends Bootstrap
  case object Latest extends Bootstrap
  final case class Lookback(offsets: Long) extends Bootstrap

  def bootstrap(table: IceTable, mode: Bootstrap, latestSeq: Long,
                nLogPartitions: Int = 32): Unit = {
    val cur = table.currentManifest()
    if (cur.exists(_.offsets.nonEmpty)) return // already has state
    val hi = mode match {
      case Earliest => return
      case Latest => latestSeq
      case Lookback(n) => latestSeq - n
    }
    if (hi < 0) return
    val offsets = (0 until nLogPartitions)
      .map(p => graft.model.OffsetRange(p, -1L, hi))
    // skipped history counts as complete: the table's contract says those
    // offsets are fenced and will never arrive
    val m = cur match {
      case Some(pm) => pm.copy(version = pm.version + 1, epochId = -1L,
        offsets = offsets, parentVersion = pm.version, completeUntilSeq = hi)
      case None => graft.model.EpochManifest(0L, -1L,
        graft.table.SchemaRegistry.baseSchemaId, Nil, offsets,
        EpochStats(0, 0, 0, 0, 0, 0), -1L, completeUntilSeq = hi)
    }
    table.commit(m)
  }

  /** Recovery when committed offsets fall off the retained log — the
    * reference's `reset.on.offset.out.of.range` {earliest, latest, nearest}
    * (gobblin-modules/gobblin-kafka-common/.../KafkaSource.java:103,485-610).
    * A partition is out of range when its committed intervals do NOT cover
    * everything below the retained head `logEarliest` — any uncovered seq
    * there was purged before ingestion and can never arrive. That includes
    * MID-LOG GAPS left by out-of-order segment arrival, not just the region
    * above the top watermark: an unclaimed purged gap would otherwise stall
    * the completeness/purge horizon forever.
    *  - Earliest: resume from the retained head — claim `(-1, logEarliest-1]`
    *    (normalize merges it with what was already committed), so the
    *    retained backlog re-ingests (LWW makes re-pulls idempotent) and the
    *    completeness / purge horizon can advance past every hole.
    *  - Latest: skip to the tail — claim `(-1, logLatest]`.
    *  - Nearest: snap to the nearest valid offset — below range that is the
    *    retained head (== Earliest here; a high watermark beyond the tail is
    *    already valid, nothing to do).
    * Claims commit as one metadata-only snapshot; returns true if any
    * partition was reset. */
  sealed trait ResetPolicy
  case object ResetEarliest extends ResetPolicy
  case object ResetLatest extends ResetPolicy
  case object ResetNearest extends ResetPolicy

  def resetOutOfRange(table: IceTable, policy: ResetPolicy,
                      logEarliest: Long, logLatest: Long,
                      nLogPartitions: Int = 32): Boolean = {
    val cur = table.currentManifest().getOrElse(return false)
    val committed = MergeEngine.committedIntervals(Some(cur))
    val claims: Seq[graft.model.OffsetRange] =
      (0 until nLogPartitions).flatMap { p =>
        // contiguous-from-origin coverage; anything below logEarliest not
        // inside it is purged-and-unobserved
        val originHigh = graft.merge.Intervals
          .normalize(committed.getOrElse(p, Nil))
          .headOption.collect { case (-1L, hi) => hi }.getOrElse(-1L)
        if (originHigh + 1 >= logEarliest) Nil // full prefix already fenced
        else policy match {
          case ResetEarliest | ResetNearest =>
            Seq(graft.model.OffsetRange(p, -1L, logEarliest - 1))
          case ResetLatest =>
            Seq(graft.model.OffsetRange(p, -1L, logLatest))
        }
      }
    if (claims.isEmpty) return false
    // per-partition resets: fold each into its partition's committed set
    val merged = graft.merge.Intervals.mergeClaims(
      committed ++ claims.groupBy(_.partitionId).map { case (p, rs) =>
        p -> (committed.getOrElse(p, Nil) ++ rs.map(r => (r.lowSeq, r.highSeq)))
      }, nLogPartitions, Nil)
    table.commit(cur.copy(version = cur.version + 1, epochId = -3L,
      offsets = merged, parentVersion = cur.version,
      completeUntilSeq = math.max(cur.completeUntilSeq,
        graft.merge.Intervals.contiguousOriginPrefix(merged))))
    true
  }

  /** Admission-controlled epoch planning (the `maxOffsetsPerTrigger` /
    * ThrottleWriter analog, SURVEY.md §4 rate limiting): slice the global
    * `(loSeq, hiSeq]` range so no epoch admits more than
    * `maxEventsPerEpoch` offsets. */
  def planEpochs(loSeq: Long, hiSeq: Long,
                 maxEventsPerEpoch: Long): Seq[(Long, Long, Long)] = {
    require(maxEventsPerEpoch > 0)
    val n = hiSeq - loSeq
    val count = math.max(1L, (n + maxEventsPerEpoch - 1) / maxEventsPerEpoch)
    (0L until count).map { e =>
      val lo = loSeq + e * maxEventsPerEpoch
      val hi = math.min(hiSeq, loSeq + (e + 1) * maxEventsPerEpoch)
      (e, lo, hi)
    }
  }

  /** Replay `(fromSeq, toSeq]` of the log in `nEpochs` equal slices.
    * Per committed epoch: lineage rows + an operations metrics row (events/
    * sec, quarantine rate, watermark lag — the KafkaExtractorStatsTracker
    * counter export, SURVEY.md §2.7) land under `stateDir`; when `viewName`
    * is set the new snapshot re-registers as a Spark SQL view on every
    * commit (HiveRegistrationPublisher analog, SURVEY.md §2.6); when
    * `catalog` is also given, the table additionally registers ONCE in the
    * durable cross-session catalog under `viewName` — the publish-time
    * shared-metastore registration (idempotent; other sessions then
    * discover the table by name via GraftCatalog.load). */
  def run(
      spark: SparkSession,
      table: IceTable,
      events: Long => Dataset[ChangeEvent],  // epoch slice loader: (epochId)
      epochRanges: Seq[(Long, Long, Long)],  // (epochId, loSeq, hiSeq]
      nLogPartitions: Int = 32,
      stateDir: Option[String] = None,
      viewName: Option[String] = None,
      catalog: Option[graft.table.GraftCatalog] = None): Seq[EpochReport] = {
    for (c <- catalog; n <- viewName)
      c.register(n, table.dir, table.defaultNumBuckets)
    epochRanges.map { case (epochId, lo, hi) =>
      val prev = MergeEngine.committedHighs(table.currentManifest())
      val t0 = System.nanoTime()
      val out = MergeEngine.applyEpoch(spark, table, events(epochId), epochId,
        nLogPartitions, stateDir.map(d => s"$d/quarantine"),
        claimedRange = Some((lo, hi)))
      val secs = (System.nanoTime() - t0) / 1e9
      stateDir.foreach { d =>
        if (!out.skipped) {
          MergeEngine.writeLineage(spark, d, epochId, prev,
            out.manifest.offsets, out.stats)
          writeMetrics(spark, d, epochId, secs, out)
        }
      }
      // register even on fenced epochs: a pure replay still has committed
      // state the caller asked to be queryable by name
      viewName.foreach(n =>
        if (table.currentVersion() >= 0) table.registerView(spark, n))
      EpochReport(epochId, lo, hi, out.skipped, out.stats)
    }
  }

  /** one operations metrics row per committed epoch (shared with the
    * streaming runner) */
  def writeMetrics(spark: SparkSession, stateDir: String,
                   epochId: Long, secs: Double,
                   out: MergeEngine.EpochOutcome): Unit = {
    import spark.implicits._
    val s = out.stats
    val lag = MergeEngine.lagSpread(out.manifest.offsets)
    Seq((epochId, secs,
      if (secs > 0) s.rowsExtracted / secs else 0.0,
      if (s.rowsExtracted > 0)
        s.rowsQuarantined.toDouble / s.rowsExtracted else 0.0,
      s.rowsApplied, s.deletesApplied, s.dedupDrops, s.staleDrops, lag,
      out.manifest.completeUntilSeq))
      .toDF("epochId", "secs", "eventsPerSec", "quarantineRate",
        "rowsApplied", "deletesApplied", "dedupDrops", "staleDrops",
        "watermarkLagSpread", "completeUntilSeq")
      .coalesce(1).write.options(LocalFs.keys(spark))
      .mode("overwrite").parquet(s"$stateDir/metrics/epoch=$epochId")
  }

  /** Convenience: generate the log on the fly (pure function of seq — no
    * materialization needed) and replay it in `nEpochs` slices. */
  def replayGenerated(
      spark: SparkSession,
      table: IceTable,
      spec: LogSpec,
      nEpochs: Int,
      nLogPartitions: Int = 32,
      stateDir: Option[String] = None,
      viewName: Option[String] = None): Seq[EpochReport] = {
    val ranges = epochRanges(0L, spec.nEvents - 1, nEpochs)
    val byId = ranges.map(r => r._1 -> r).toMap
    import spark.implicits._
    // Expression-built slices (bit-identical to eventAt — GeneratorParity
    // Spec), not Dataset.map closures: the epoch's envelope-pruned dedup
    // scan then generates NO content bytes at all (Catalyst prunes the
    // ContentGen column), and every scan skips the per-row encoder round
    // trip. Measured at the bench shape (8M rows, local[8]): envelope scan
    // 6.0 s (closure) → 1.2 s, full-row scan 5.3 s → 3.3 s.
    def slice(epochId: Long): Dataset[ChangeEvent] = {
      val (_, lo, hi) = byId(epochId)
      ChangeLogGen.generateExprSlice(spark, spec, lo + 1, hi + 1)
        .as[ChangeEvent]
    }
    run(spark, table, slice, ranges, nLogPartitions, stateDir, viewName)
  }

  /** `nEpochs` equal `(lo, hi]` epoch slices `(epochId, lo, hi)` of the
    * seqs `[first, last]`. Every hi is clamped to `last` and empty slices
    * are dropped: when nEpochs*per over-covers the span (per rounds up to 1
    * with more epochs than events), an unclamped middle epoch would claim —
    * and permanently fence — seqs that were never observed (and the
    * generator slice would even fabricate events past the log's end). */
  private def epochRanges(first: Long, last: Long,
      nEpochs: Int): Seq[(Long, Long, Long)] = {
    val per = math.max(1L, (last - first + 1) / nEpochs)
    (0 until nEpochs).map { e =>
      val lo = math.min(first + e * per - 1, last)
      val hi = if (e == nEpochs - 1) last
               else math.min(first + (e + 1) * per - 1, last)
      (e.toLong, lo, hi)
    }.filter { case (_, lo, hi) => lo < hi }
  }

  /** Replay from a materialized parquet change log (the "binlog" on disk).
    * Slices prune on `seq` (range-partitioned files → row-group pruning). */
  def replayParquetLog(
      spark: SparkSession,
      table: IceTable,
      logDir: String,
      nEpochs: Int,
      nLogPartitions: Int = 32,
      stateDir: Option[String] = None): Seq[EpochReport] = {
    import spark.implicits._
    val bounds = spark.read.parquet(logDir)
      .agg(min($"seq").as("lo"), max($"seq").as("hi")).head()
    if (bounds.isNullAt(0)) return Seq.empty // empty log: nothing to replay
    val ranges = epochRanges(bounds.getLong(0), bounds.getLong(1), nEpochs)
    val byId = ranges.map(r => r._1 -> r).toMap
    def slice(epochId: Long): Dataset[ChangeEvent] = {
      val (_, lo, hi) = byId(epochId)
      spark.read.parquet(logDir)
        .filter($"seq" > lo && $"seq" <= hi)
        .as[ChangeEvent]
    }
    run(spark, table, slice, ranges, nLogPartitions, stateDir)
  }
}
