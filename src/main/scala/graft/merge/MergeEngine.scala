package graft.merge

import graft.model._
import graft.pipeline.{RowPolicies, TaskPolicies}
import graft.table.{AqeSafety, IceTable, LocalFs, SchemaRegistry,
  SessionScope}
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlBridge,
  Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Epoch apply as named stages: scope → admit (converters, row policies,
 * offset-interval fence) → dedup → claims → layout → write (seq-aware
 * copy-on-write MERGE into the IceTable) → commit. This is the Spark-native
 * re-expression of the reference's task dataflow (extractor → converters →
 * row-quality → writer → publisher, gobblin-runtime/.../
 * StreamModelTaskRunner.java:79-170), with Gobblin's commit machinery
 * (FineGrainedWatermarkTracker + IcebergMetadataWriter.flush) replaced by a
 * single atomic snapshot commit whose manifest carries the committed
 * per-partition offset ranges (the replay fence).
 *
 * Delivery-order safety: micro-batches need NOT arrive in seq order.
 *  - The fence drops only events lying INSIDE an already-committed offset
 *    interval (exact replays) — the reference's connected-range fence
 *    (IcebergMetadataWriter.mergeOffsets, :406-435), generalized to interval
 *    sets so an out-of-order batch is never wrongly dropped.
 *  - The MERGE itself is last-writer-wins BY SEQ against the stored row's
 *    `lastSeq`, with delete tombstones — a true LWW register per key, so
 *    applying batches in any order converges to the same table. Tombstones
 *    keep late stale updates from resurrecting deleted keys; the compaction
 *    job purges them once the log horizon passes (SURVEY.md §2.9).
 *
 * Scale notes (designed for 1000 executors / 100 TB):
 *  - Every dedup mode (see dedupWinners) is a hash aggregate that combines
 *    map-side, so Zipf skew costs one combined row per task, not a skewed
 *    reducer.
 *  - The MERGE join runs only over buckets the epoch touches (bucket pruning
 *    via the manifest file list); untouched buckets' files carry forward by
 *    reference, and a touched bucket is rewritten whole into one file —
 *    rewrite amplification is bounded by bucket width.
 *  - Counters come from one small collect on the deduped output plus an
 *    `Observation` evaluated inside the write job — no extra passes.
 */
object MergeEngine {

  /** winner sets up to this ESTIMATED SIZE (key octets + per-row overhead)
    * dedup via broadcast join; larger ones fall back to the shuffle max_by.
    * Bytes, not rows: 2M long-string keys would be a multi-hundred-MB
    * broadcast (OOM risk at 1000 executors) while 2M short keys are fine.
    * Conf `spark.graft.maxBroadcastBytes` (also forces the fallback in tests). */
  private def maxBroadcastBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.maxBroadcastBytes")
      .map(_.toLong).getOrElse(67108864L) // 64 MB

  /** Tiny-epoch gate: an epoch that declares fewer claimed events than this
    * runs a static plan (AQE off, shuffle partitions clamped to the bucket
    * count) and the one-pass payload dedup. */
  private val AqeMinClaimedEvents = 1000000L

  /** the change-event columns the merge carries, in winner-struct order */
  private val EventCols = Seq("op", "seq", "commit", "lang", "content")

  /** LWW order among one key's events: the highest seq wins, and same-seq
    * duplicates (at-least-once redelivery inside one batch, which the fence
    * cannot see) resolve by the lexicographic max of the rest. Every dedup
    * mode orders by this one list, so the mode an epoch lands in can never
    * change the table. */
  private val LwwOrder = Seq("seq", "commit", "op", "lang", "content")

  /** a key group's LWW winner, as a struct of [[EventCols]] */
  private def lwwMaxBy: Column =
    max_by(struct(EventCols.map(col): _*), struct(LwwOrder.map(col): _*))

  /** The named stages of [[applyEpoch]], in order. Every `EpochCommitted`
    * event carries each stage's wall time as `<stage>Ms`. */
  val Stages: Seq[String] =
    Seq("scope", "admit", "dedup", "claims", "layout", "write", "commit")

  /** Times each stage, and names every Spark job a stage starts
    * `graft epoch <epochId> <stage>` (its `spark.job.description`). */
  private final class StageClock(spark: SparkSession, epochId: Long) {
    private val nanos = scala.collection.mutable.Map(Stages.map(_ -> 0L): _*)
    def apply[T](stage: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try SessionScope.withJobDescription(spark,
        s"graft epoch $epochId $stage")(f)
      finally nanos(stage) += System.nanoTime() - t0
    }
    def millis: Seq[(String, Long)] = Stages.map(s => s -> nanos(s) / 1000000L)
  }

  final case class EpochOutcome(
      manifest: EpochManifest,
      skipped: Boolean,          // fully fenced (replayed epoch)
      stats: EpochStats)

  /** Per-log-partition id — keyed like a Kafka partition: stable hash of the
    * record key, so per-partition watermarks are meaningful under re-reads. */
  def logPartitionCol(nLogPartitions: Int): Column =
    pmod(xxhash64(col("repo"), col("path")), lit(nLogPartitions)).cast("int")

  /** committed interval set per partition from a manifest */
  def committedIntervals(m: Option[EpochManifest]): Map[Int, Seq[(Long, Long)]] =
    m.map(_.offsets.groupBy(_.partitionId).map { case (p, rs) =>
      p -> Intervals.normalize(rs.map(r => (r.lowSeq, r.highSeq)))
    }).getOrElse(Map.empty)

  /** per-partition committed high watermark (for lineage/lag reporting) */
  def committedHighs(m: Option[EpochManifest]): Map[Int, Long] =
    committedIntervals(m).map { case (p, ivs) => p -> Intervals.maxHigh(ivs) }

  /** per-partition high watermarks of an offset list */
  def partitionHighs(offsets: Seq[OffsetRange]): Map[Int, Long] =
    offsets.groupBy(_.partitionId)
      .map { case (p, rs) => p -> rs.map(_.highSeq).max }

  /** max-min spread of partition highs (the watermark-lag signal shared by
    * lineage, ops metrics, and the health check) */
  def lagSpread(offsets: Seq[OffsetRange]): Long = {
    val highs = partitionHighs(offsets).values
    if (highs.isEmpty) 0L else highs.max - highs.min
  }

  /** Commit with OPTIMISTIC REBASE on CAS failure — the reference commits
    * through an Iceberg transaction whose whole metadata pipeline retries
    * on conflict (IcebergMetadataWriter.flush,
    * gobblin-iceberg/.../writer/IcebergMetadataWriter.java:834-905). When a
    * concurrent writer won the snapshot race, re-read the NEW parent and
    * re-commit iff the interleaver's changes are provably disjoint from
    * this epoch's:
    *  - no bucket this epoch rewrote had its file set changed (same-bucket
    *    interleaving would make this epoch's CoW output stale),
    *  - the interleaver's newly committed offset intervals do not overlap
    *    this epoch's claims (overlap could double-account the same events),
    *  - same schema, same bucket layout, same log-partition universe (a
    *    schema evolution / rebucket / universe change interleaving is not a
    *    mechanical rebase — the epoch must replan).
    * On any non-rebasable conflict the original CAS error propagates: the
    * single-writer-per-table discipline remains the documented norm, this
    * is the 100×-operations upgrade for the disjoint case (e.g. a
    * compaction of cold buckets landing under a hot-bucket ingest epoch). */
  private def commitWithRebase(
      table: IceTable,
      manifest: EpochManifest,
      parent0: Option[EpochManifest],
      affectedBuckets: Set[Int],
      claimedIvs: Seq[(Long, Long)],
      nLogPartitions: Int,
      maxRetries: Int = 3): EpochManifest = {
    var m = manifest
    var par = parent0
    var left = maxRetries
    while (true) {
      try return table.commit(m)
      catch {
        case e: IllegalArgumentException if left > 0 =>
          left -= 1
          val np = table.currentManifest().getOrElse(throw e)
          def byBucket(fs: Seq[graft.model.DataFileEntry]) =
            fs.groupBy(_.bucket).map { case (b, l) => b -> l.map(_.path).toSet }
          val ob = byBucket(par.map(_.files).getOrElse(Nil))
          val nb = byBucket(np.files)
          val interleaverTouched = (ob.keySet ++ nb.keySet).filter(b =>
            ob.getOrElse(b, Set.empty) != nb.getOrElse(b, Set.empty))
          val oldIv = committedIntervals(par)
          val newIv = committedIntervals(Some(np))
          val claims = Intervals.normalize(claimedIvs)
          val claimsDisjoint = newIv.keySet.forall(p =>
            Intervals.intersect(claims, newIv(p)) ==
              Intervals.intersect(claims, oldIv.getOrElse(p, Nil)))
          val bucketOverlap = interleaverTouched.intersect(affectedBuckets)
          if (np.schemaId != m.schemaId ||
              table.bucketCountOf(Some(np)) != m.numBuckets ||
              newIv.keySet != oldIv.keySet ||
              bucketOverlap.nonEmpty || !claimsDisjoint)
            throw new IllegalArgumentException(
              s"concurrent writer conflict is not rebasable (bucket " +
                s"overlap=${bucketOverlap.toSeq.sorted.mkString(",")} " +
                s"claimsDisjoint=$claimsDisjoint schema=${np.schemaId}/" +
                s"${m.schemaId} buckets=${table.bucketCountOf(Some(np))}/" +
                s"${m.numBuckets}); single-writer rule applies", e)
          // re-apply the universe WIDENING against the NEW parent exactly
          // like the main path (committedIv): partitions this epoch added
          // must re-enter with the intersection fence, or the rebased
          // manifest would carry claim-only intervals that stall the
          // completeness/purge horizons (state stays right — LWW absorbs —
          // but the horizons must not regress to claim fragments)
          val newIvWidened =
            if (newIv.isEmpty) newIv
            else {
              val missing = (0 until nLogPartitions).toSet -- newIv.keySet
              if (missing.isEmpty) newIv
              else {
                val common = newIv.values.reduce(Intervals.intersect)
                newIv ++ missing.map(_ -> common).toMap
              }
            }
          val offsets2 = Intervals.mergeClaims(newIvWidened, nLogPartitions,
            claimedIvs)
          m = m.copy(
            version = np.version + 1,
            parentVersion = np.version,
            // untouched buckets take the NEW parent's files (they carry the
            // interleaver's changes); this epoch's rewritten buckets keep
            // its output — the interleaver provably didn't touch them
            files = (np.files.filterNot(f =>
                affectedBuckets.contains(f.bucket)) ++
              m.files.filter(f => affectedBuckets.contains(f.bucket)))
              .sortBy(f => (f.bucket, f.path)),
            offsets = offsets2,
            completeUntilSeq = math.max(np.completeUntilSeq,
              Intervals.contiguousOriginPrefix(offsets2)),
            // the purge mark is TABLE history and must stay monotone across
            // a rebase: an interleaved compaction that purged tombstones
            // advanced np.purgedBelowSeq, and a rebased ingest manifest
            // that reverted it would hide the purge from a change-feed
            // window spanning this commit (the feed's removed-file delete
            // synthesis is gated on the mark moving) — silent delete loss
            // for feed consumers
            purgedBelowSeq = math.max(m.purgedBelowSeq, np.purgedBelowSeq))
          par = Some(np)
          System.err.println(s"[graft] commit conflict: rebased epoch " +
            s"${m.epochId} onto version ${np.version} (disjoint buckets/" +
            s"claims); retrying (${left} left)")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** What an epoch did beyond its counters: dedup mode (`payload`,
    * `broadcast` or `shuffle`), AQE on/off, bucket-aligned target scan, the
    * write's files and time, and the task count [[IceTable.packBuckets]]
    * chose for it (0: no write, or an empty-target write, which is not
    * packed). */
  private final case class EpochFacts(dedupMode: String, aqe: Boolean,
      aligned: Boolean = false,
      write: IceTable.EpochWrite = IceTable.EpochWrite(Nil, 0L, 0L, 0L),
      writeTasks: Int = 0)

  /** post-commit tracking event (gobblin-metrics GobblinTrackingEvent
    * analog; see graft.metrics.Metrics) — emitted AFTER the snapshot is
    * durable, so external consumers never see an event for a snapshot that
    * does not exist. No reporters registered ⇒ nothing is built. */
  private def emitCommitEvent(table: IceTable, m: EpochManifest,
      st: EpochStats, skipped: Boolean, facts: EpochFacts,
      clock: StageClock): Unit =
    graft.metrics.Metrics.emit("graft.ingest", "EpochCommitted", Map(
      "table" -> table.dir,
      "epochId" -> m.epochId.toString,
      "version" -> m.version.toString,
      "metadataOnly" -> skipped.toString,
      "completeUntilSeq" -> m.completeUntilSeq.toString,
      "rowsExtracted" -> st.rowsExtracted.toString,
      "rowsQuarantined" -> st.rowsQuarantined.toString,
      "dedupDrops" -> st.dedupDrops.toString,
      "rowsApplied" -> st.rowsApplied.toString,
      "deletesApplied" -> st.deletesApplied.toString,
      "staleDrops" -> st.staleDrops.toString,
      "dedupMode" -> facts.dedupMode,
      "aqe" -> facts.aqe.toString,
      "aligned" -> facts.aligned.toString,
      "filesWritten" -> facts.write.files.size.toString,
      "writeTasks" -> facts.writeTasks.toString,
      "writeJobMs" -> facts.write.writeJobMs.toString,
      "publishMs" -> facts.write.publishMs.toString,
      "footerStatsMs" -> facts.write.footerStatsMs.toString) ++
      clock.millis.map { case (s, ms) => s"${s}Ms" -> ms.toString })

  /** The epoch's parent and the plan policy its declared size selects. */
  private final case class Scope(parent: Option[EpochManifest],
      nBuckets: Int, tiny: Boolean, aqe: Boolean) {
    def parentVersion: Long = parent.map(_.version).getOrElse(-1L)
    def schemaId: Int =
      parent.map(_.schemaId).getOrElse(SchemaRegistry.baseSchemaId)
  }

  /** The epoch's events after the converter chain (`withPart`) and after
    * the row policies and the fence (`fresh`). `quarantined` may ride the
    * first action over `fresh` as an Observation: read it only after. */
  private final case class Admitted(withPart: DataFrame, fresh: DataFrame,
      committedIv: Map[Int, Seq[(Long, Long)]], quarantined: () => Long)

  /** The persisted winners, their per-bucket stats (`bucket`, `nKeys`, `nEv`,
    * `keyBytes`) and the dedup mode. */
  private final case class Dedup(winners: DataFrame, perBucket: Seq[Row],
      quarantined: Long, mode: String) {
    def freshCount: Long = perBucket.map(_.getAs[Long]("nEv")).sum
    def upsertCount: Long = perBucket.map(_.getAs[Long]("nKeys")).sum
    def buckets: Set[Int] = perBucket.map(_.getAs[Int]("bucket")).toSet
  }

  /** The seq intervals the epoch claims on every log partition, and the
    * merged offsets its commit records. */
  private final case class Claims(ivs: Seq[(Long, Long)],
      offsets: Seq[OffsetRange])

  /** The merge target: the untouched buckets' files, carried forward
    * (`kept`), and every file of the touched buckets (`read`), whose rows
    * are read bucket-aligned or not and rewritten whole. */
  private final case class Layout(kept: Seq[DataFileEntry],
      read: Seq[DataFileEntry], target: DataFrame, aligned: Boolean,
      buckets: Seq[Int])

  /**
   * Apply one epoch of change events to `table`. Idempotent: events inside
   * an already-committed offset interval are filtered out; an epoch whose
   * events are all fenced commits no new snapshot. Order-independent: stale
   * events lose LWW against `lastSeq` instead of corrupting state.
   */
  def applyEpoch(
      spark: SparkSession,
      table: IceTable,
      rawEvents: Dataset[ChangeEvent],
      epochId: Long,
      nLogPartitions: Int = 32,
      quarantineDir: Option[String] = None,
      pipeline: graft.pipeline.Transform.T = graft.pipeline.Transform.identity,
      taskPolicies: Seq[TaskPolicies.Policy] =
        Seq(TaskPolicies.RowCountReconciliation()),
      rowPolicies: Seq[RowPolicies.Policy] = RowPolicies.defaults,
      claimedRange: Option[(Long, Long)] = None,
      // ONLY for quarantine reprocess (QuarantineReprocess.run): admit rows
      // whose seqs sit inside committed intervals. Quarantine is terminal —
      // a quarantined row's seq was claimed but its effect provably never
      // reached the table — so re-admission cannot double-apply; and the
      // LWW merge is STRICT (`u.seq > c.lastSeq`), so even a repeated
      // reprocess of the same survivor is a stale-drop, not a re-apply.
      admitClaimed: Boolean = false): EpochOutcome = {
    val clock = new StageClock(spark, epochId)
    val (scope, restoreConfs) = clock("scope")(scopeConfs(spark, table,
      rawEvents.sparkSession, claimedRange))
    try {
      val in = clock("admit")(admit(spark, scope, rawEvents, epochId,
        nLogPartitions, quarantineDir, pipeline, rowPolicies, admitClaimed))
      val winners = clock("dedup")(dedupWinners(table, scope, in.fresh))
      try {
        val dd = clock("dedup")(dedupStats(spark, scope, in, winners))
        val claims = clock("claims")(resolveClaims(spark, in,
          nLogPartitions, claimedRange))
        if (dd.freshCount == 0) {
          // everything was fenced or quarantined: only new claims commit
          val st = EpochStats(dd.quarantined, dd.quarantined, 0, 0, 0, 0)
          clock("commit")(commitClaims(table, scope, st, claims, epochId,
            nLogPartitions, taskPolicies)) match {
            case Some(m) =>
              emitCommitEvent(table, m, st, skipped = true,
                EpochFacts(dd.mode, scope.aqe), clock)
              EpochOutcome(m, skipped = true, st)
            case None => // pure replay of fenced/re-quarantined data
              EpochOutcome(scope.parent.getOrElse(EpochManifest(-1L, epochId,
                SchemaRegistry.baseSchemaId, Nil, Nil, st, -1L)),
                skipped = true, st)
          }
        } else {
          val lay = clock("layout")(layout(spark, table, scope, dd))
          val (write, writeTasks, st) = clock("write")(mergeAndWrite(spark,
            table, scope, in.fresh, dd, lay, epochId))
          val m = clock("commit")(commitEpoch(table, scope, dd, claims,
            lay.kept ++ write.files, st, epochId, nLogPartitions,
            taskPolicies))
          emitCommitEvent(table, m, st, skipped = false, EpochFacts(dd.mode,
            scope.aqe, lay.aligned, write, writeTasks), clock)
          EpochOutcome(m, skipped = false, st)
        }
      } finally { winners.unpersist(); () }
    } finally restoreConfs()
  }

  /** Stage `scope`: resolve the parent and the tiny-epoch policy, and set
    * the epoch's plan confs on every session its plans run in. Returns the
    * scope and the undo of those confs. */
  private def scopeConfs(spark: SparkSession, table: IceTable,
      batchSession: SparkSession, claimedRange: Option[(Long, Long)])
      : (Scope, () => Unit) = {
    // The merge join is co-partitioned on `bucket` ALONE: it plans under
    // the engine's storage-partitioned-join confs
    // (`SessionScope.CoPartitionConfs`), so neither side needs an exchange.
    // The excludedRules entry (merged PER SESSION with its own exclusions)
    // keeps AQE's empty-relation propagation from pruning CollectMetrics out
    // of a FULLY-FENCED epoch's empty plans, or its observations would never
    // fire (see graft.table.AqeSafety).
    // TINY-EPOCH GATE: AQE's value (skew splitting, coalescing) grows with
    // data volume, but its cost (a re-planning round-trip and a separate job
    // per materialized exchange) is paid per STAGE. Measured on the c3
    // replay (4 epochs × ~37k events): AQE-off cut the query ~20% with no
    // plan regression. Epochs of at least [[AqeMinClaimedEvents]] and
    // epochs of UNKNOWN size (segment-claimed batches) keep AQE on. The
    // same gate picks the dedup mode (see dedupWinners).
    val tiny = claimedRange.exists { case (lo, hi) =>
      hi - lo < AqeMinClaimedEvents }
    val parent = table.currentManifest()
    // bucket count of THIS table's committed layout, resolved ONCE from the
    // parent manifest (rebucket migrations record it per snapshot)
    val nBuckets = table.bucketCountOf(parent)
    // Tiny epochs also CLAMP shuffle partitions to the bucket count (never
    // raising it): with AQE off nothing coalesces, and a tiny epoch's write
    // unit IS the bucket. Measured on the c3 replay at local[32]: 32→16
    // partitions cut the query ~15%.
    val tinyParts: Seq[(String, String)] =
      if (!tiny) Nil
      else {
        val cur = spark.conf.getOption("spark.sql.shuffle.partitions")
          .map(_.toInt).getOrElse(200)
        Seq("spark.sql.shuffle.partitions" ->
          math.max(1, math.min(nBuckets, cur)).toString)
      }
    val scopedConfs = SessionScope.CoPartitionConfs ++
      (if (tiny) Seq("spark.sql.adaptive.enabled" -> "false") else Nil) ++
      tinyParts
    // Inside foreachBatch the batch Dataset is bound to the STREAM'S CLONED
    // session (own SQLConf); a conf set only on the outer session would not
    // reach the batch plans' adaptive re-optimization. Scope the confs on
    // BOTH sessions (they share one SparkContext).
    val confSessions =
      if (batchSession eq spark) Seq(spark) else Seq(spark, batchSession)
    val restore = SessionScope.setConfs(confSessions)(s =>
      scopedConfs :+ AqeSafety.excludedRulesConf(s))
    (Scope(parent, nBuckets, tiny,
      spark.conf.get("spark.sql.adaptive.enabled").toBoolean), restore)
  }

  /** Stage `admit`: widen the committed log-partition universe, run the
    * converter chain and the row policies (quarantining what fails), and
    * fence out events inside committed offset intervals. */
  private def admit(spark: SparkSession, scope: Scope,
      rawEvents: Dataset[ChangeEvent], epochId: Long, nLogPartitions: Int,
      quarantineDir: Option[String], pipeline: graft.pipeline.Transform.T,
      rowPolicies: Seq[RowPolicies.Policy], admitClaimed: Boolean)
      : Admitted = {
    // Log-partition-universe GROWTH (the reference discovers partitions at
    // runtime, KafkaSource.java:198): partitions NEW to the committed
    // universe enter fenced by the INTERSECTION of all existing partitions'
    // committed intervals. Every commit stamps its claims onto ALL
    // partitions, so a seq in every existing set was committed whichever
    // partition its key hashes to now — fencing it is safe, and the
    // intersection keeps the completeness/purge horizons advancing. (A seq
    // fenced on only some old partitions stays unfenced; LWW absorbs the
    // replay.) SHRINKING fails fast — dropped partitions would strand their
    // claims and pin the horizons forever.
    val committedIv: Map[Int, Seq[(Long, Long)]] = {
      val base = committedIntervals(scope.parent)
      if (base.isEmpty) base
      else {
        require(base.keySet.subsetOf((0 until nLogPartitions).toSet),
          s"nLogPartitions=$nLogPartitions would SHRINK the table's " +
            s"committed partition universe " +
            s"(${base.keySet.toSeq.sorted.mkString(",")}); growing is " +
            "supported, shrinking is not")
        val missing = (0 until nLogPartitions).toSet -- base.keySet
        if (missing.isEmpty) base
        else {
          val common = base.values.reduce(Intervals.intersect)
          base ++ missing.map(_ -> common).toMap
        }
      }
    }

    // converter chain + quality gate (Converter/RowLevelPolicy)
    val withPart = pipeline(rawEvents.toDF())
      .withColumn("logPart", logPartitionCol(nLogPartitions))
    val pass = RowPolicies.passAll(rowPolicies)

    // quarantine write + count in ONE pass (Observation rides the write
    // job); a separate count() would re-scan the whole epoch input. With NO
    // quarantine sink configured, policy-discarded rows must still be
    // COUNTED (a silent drop would under-report extraction and hide the
    // discard from reconciliation): their count rides the winners aggregate
    // as an Observation on the shared input plan — no extra pass.
    val (good, quarantined) = quarantineDir match {
      case Some(dir) =>
        val qObs = Observation(s"quarantine-$epochId-${System.nanoTime()}")
        withPart.filter(!pass)
          .withColumn("reason", RowPolicies.failReason(rowPolicies))
          .observe(qObs, count(lit(1)).as("n"))
          .drop("logPart")
          .write.options(LocalFs.keys(spark)).mode("overwrite")
          .parquet(s"$dir/epoch=$epochId")
        val n = GraftSqlBridge.awaitObservation(spark, qObs,
          "quarantine-count").apply("n").asInstanceOf[Long]
        (withPart.filter(pass), () => n)
      case None =>
        val inObs = Observation(s"input-$epochId-${System.nanoTime()}")
        // Bounded read (never a silent 0, never an unbounded block — see
        // GraftSqlBridge.awaitObservation); sum over zero bad rows is null.
        (withPart.observe(inObs,
          sum(when(!pass, 1L).otherwise(0L)).as("bad")).filter(pass),
          () => GraftSqlBridge.awaitObservation(spark, inObs,
            "policy-discard").get("bad").orNull match {
            case null => 0L
            case v => v.asInstanceOf[Long]
          })
    }

    // Offset-interval fence (exact-replay dedup): the native binary-search
    // expression graft.functions.IntervalInside — O(log n) per row, constant
    // plan size at any interval count, and CODEGEN-STABLE ACROSS EPOCHS (the
    // bounds ride as a reference object, not inlined literals, so each
    // epoch's scan stage hits the codegen cache; measured ~0.2 s/epoch of
    // Janino time on the c3 replay otherwise).
    val fresh =
      if (admitClaimed || committedIv.isEmpty) good
      else good.filter(
        !graft.functions.IntervalInside(col("logPart"), col("seq"), committedIv))
    Admitted(withPart, fresh, committedIv, quarantined)
  }

  /** Stage `dedup`, its plan: one row per key with its max seq, event count
    * and bucket — plus, in `payload` mode, the winning event itself.
    * Persisted; the caller unpersists. */
  private def dedupWinners(table: IceTable, scope: Scope, fresh: DataFrame)
      : DataFrame = {
    // Two dedup strategies, each with a measured reason, selected by the
    // tiny-epoch gate (declared claimed span < AqeMinClaimedEvents):
    //  - ENVELOPE (large or unknown-size epochs): phase A aggregates ONLY
    //    (key → max seq, count), so the scan is column-pruned to the
    //    envelope and payload bytes never shuffle; phase B broadcast-joins
    //    the winner (key, seq) set back onto the input (or, past
    //    maxBroadcastBytes, falls back to a shuffle max_by aggregate).
    //  - PAYLOAD (tiny epochs): the winning ROW rides phase A's one pass as
    //    an LWW max_by — no second source scan, no broadcast, no rank.
    // Payload-for-every-epoch was measured against this split on a 4-CPU
    // host (local[4], bulk backfill, alternating runs): at a 1.2M-event
    // epoch it was within noise of the envelope path (~3% slower); at 8M
    // events it lost both pairs by 15-20%. Shuffling the payload once pays
    // only while the claimed span bounds it small.
    val byKey = fresh.groupBy(col("repo"), col("path"))
    (if (scope.tiny)
       byKey.agg(lwwMaxBy.as("e"), count(lit(1)).as("nEvents"))
         .select(col("repo"), col("path"), col("e"), col("e.seq").as("seq"),
           col("nEvents"))
     else byKey.agg(max(col("seq")).as("seq"), count(lit(1)).as("nEvents")))
      .withColumn("bucket",
        table.bucketCol(col("repo"), col("path"), scope.nBuckets))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Stage `dedup`, its run: one small per-bucket collect over the winners
    * feeds the counters, bucket pruning and broadcast sizing at once. */
  private def dedupStats(spark: SparkSession, scope: Scope, in: Admitted,
      winners: DataFrame): Dedup = {
    import spark.implicits._
    val perBucket = winners.groupBy($"bucket")
      .agg(count(lit(1)).as("nKeys"), sum($"nEvents").as("nEv"),
        sum(octet_length($"repo") + octet_length($"path")).as("keyBytes"))
      .collect().toSeq
    // estimated broadcast payload: key OCTETS (length() counts chars and
    // would undercount multi-byte UTF-8 keys up to 3-4x against a gate
    // whose whole point is actual bytes) + ~48B row overhead
    val winnerBytes = perBucket.map(r =>
      r.getAs[Long]("keyBytes") + 48L * r.getAs[Long]("nKeys")).sum
    val mode =
      if (scope.tiny) "payload"
      else if (winnerBytes <= maxBroadcastBytes(spark)) "broadcast"
      else "shuffle"
    Dedup(winners, perBucket, in.quarantined(), mode)
  }

  /** Stage `claims`: the seq intervals this epoch claims, applied to EVERY
    * log partition — including partitions with no events this epoch, which
    * must still persist offsets (the reference's empty-WorkUnit rule,
    * KafkaSource.java:404-411) so the purge horizon can advance and the
    * manifest stays at one merged interval per partition. */
  private def resolveClaims(spark: SparkSession, in: Admitted,
      nLogPartitions: Int, claimedRange: Option[(Long, Long)]): Claims = {
    import spark.implicits._
    //  - Declared (batch replay knows its slice): one interval (lo, hi].
    //  - Segment (unknown batch provenance, e.g. a file-stream micro-batch):
    //    the EXACT contiguous runs of the batch's OBSERVED valid seqs — an
    //    in-batch gap is NOT claimed (that would fence its events when they
    //    arrive later: silent data loss), quarantined rows' seqs are (a
    //    permanent gap would stall the horizons). One distributed pass: each
    //    distinct seq emits a "present" marker for itself and a
    //    "has-predecessor" marker for seq+1; a value where the two disagree
    //    is a run boundary (present-only = run start at v, predecessor-only
    //    = run end at v-1). The driver collects boundaries through an
    //    ordered top-k bounded by `spark.graft.maxClaimRuns` (default 65536
    //    runs): a gap-dense batch claims only the lowest `cap` runs; the
    //    rest are re-observed later (fence + LWW make re-pulls idempotent).
    val ivs: Seq[(Long, Long)] = claimedRange match {
      case Some((lo, hi)) => Seq((lo, hi))
      case None =>
        val cap = spark.conf.getOption("spark.graft.maxClaimRuns")
          .map(_.toInt).getOrElse(65536)
        val boundaries = in.withPart.filter($"seq".isNotNull && $"seq" >= 0)
          .select($"seq").distinct()
          .select(explode(array(
            struct($"seq".as("v"), lit(1).as("self"), lit(0).as("succ")),
            struct(($"seq" + 1).as("v"), lit(0).as("self"), lit(1).as("succ"))
          )).as("m"))
          .groupBy($"m.v".as("v"))
          .agg(max($"m.self").as("s"), max($"m.succ").as("p"))
          .filter($"s" =!= $"p")
          .orderBy($"v")
          .limit(2 * cap + 1) // TakeOrdered: bounded driver memory
          .collect()
          .map(r => (r.getAs[Long]("v"), r.getAs[Int]("s")))
        // sorted boundaries strictly alternate start(s=1), end-marker(s=0);
        // an odd count means the cap truncated a trailing unfinished run.
        // Truncation is safe ONLY for re-observable sources: an exactly-once
        // checkpointed source never redelivers, so unclaimed-but-applied
        // seqs would freeze the horizons forever — such callers
        // (StreamingIngest) set spark.graft.claimRunOverflow=fail to abort
        // the epoch UNCOMMITTED (raise the cap, restart, the batch replays).
        val complete =
          if (boundaries.length > 2 * cap) {
            val policy = spark.conf
              .getOption("spark.graft.claimRunOverflow").getOrElse("truncate")
            if (policy == "fail")
              throw new IllegalStateException(
                s"segment-claim runs exceed cap=$cap under " +
                  "claimRunOverflow=fail; raise spark.graft.maxClaimRuns " +
                  "and retry (nothing was committed)")
            System.err.println(s"[graft] segment-claim runs exceed cap=$cap; " +
              s"claiming only the lowest $cap runs (rest re-observed later)")
            boundaries.take(2 * cap)
          } else boundaries
        complete.grouped(2).collect {
          case Array((vs, 1), (ve, 0)) => (vs - 1, ve - 1)
        }.toSeq
    }
    Claims(ivs, Intervals.mergeClaims(in.committedIv, nLogPartitions, ivs))
  }

  /** Stage `commit` of an epoch that applies no row: its claims commit only
    * if they are new (a declared empty slice, quarantined-only segment
    * runs), so the fence and completeness horizon advance — gated like
    * every commit. None: nothing new, no commit (a pure replay). */
  private def commitClaims(table: IceTable, scope: Scope, st: EpochStats,
      claims: Claims, epochId: Long, nLogPartitions: Int,
      taskPolicies: Seq[TaskPolicies.Policy]): Option[EpochManifest] = {
    val mo = claims.offsets
    val unchanged = scope.parent match {
      case Some(pm) => pm.offsets.toSet == mo.toSet
      case None => mo.isEmpty || claims.ivs.isEmpty
    }
    if (unchanged) None
    else {
      TaskPolicies.enforce(taskPolicies, st)
      val complete0 = math.max(
        scope.parent.map(_.completeUntilSeq).getOrElse(Long.MinValue),
        Intervals.contiguousOriginPrefix(mo))
      val m = scope.parent
        .map(pm => pm.copy(version = pm.version + 1, epochId = epochId,
          offsets = mo, stats = st, parentVersion = pm.version,
          completeUntilSeq = complete0, numBuckets = scope.nBuckets))
        .getOrElse(EpochManifest(0L, epochId, SchemaRegistry.baseSchemaId,
          Nil, mo, st, -1L, complete0, numBuckets = scope.nBuckets))
      Some(commitWithRebase(table, m, scope.parent, Set.empty, claims.ivs,
        nLogPartitions))
    }
  }

  /** Stage `layout`: which parent files the merge rewrites, and how it
    * reads them. Every file of a touched bucket is rewritten, so the bucket
    * ends as one file: a bucket file's hashed keys span the key space, so
    * no per-file key bound could prove it misses the epoch's winners. */
  private def layout(spark: SparkSession, table: IceTable, scope: Scope,
      dd: Dedup): Layout = {
    val affected = dd.buckets
    val (touchedFiles, untouchedFiles) = scope.parent.map(_.files)
      .getOrElse(Seq.empty).partition(f => affected.contains(f.bucket))

    // Bucket-aligned merge (storage-partitioned join): the target is a DSv2
    // scan reporting KeyGroupedPartitioning(bucket) and the winners are laid
    // out identically (one partition per affected bucket, ascending), so the
    // full-outer join needs NO exchange: the target is read in place and
    // only the winners move. The layout is also an RDD-level barrier the
    // planner cannot strip (a bare repartition under a join becomes a
    // full-key shuffle that un-clusters the bucket write: measured 490
    // files/epoch instead of 16). Only an EMPTY target takes a repartition.
    val buckets = affected.toSeq.sorted
    val aligned = touchedFiles.nonEmpty
    val target =
      if (aligned)
        table.readFilesBucketAligned(spark, touchedFiles, scope.schemaId,
          buckets = Some(buckets))
      else
        table.readFiles(spark, touchedFiles, scope.schemaId)
          .repartition(scope.nBuckets, col("bucket"))
    Layout(untouchedFiles, touchedFiles, target, aligned, buckets)
  }

  /** Stage `write`: lay the winners out like the target, merge them into
    * it by seq-aware LWW (copy-on-write over the affected buckets), and
    * write the merged rows. Returns the write, its packed task count (0:
    * empty target, not packed) and the epoch's counters. */
  private def mergeAndWrite(spark: SparkSession, table: IceTable,
      scope: Scope, fresh: DataFrame, dd: Dedup, lay: Layout, epochId: Long)
      : (IceTable.EpochWrite, Int, EpochStats) = {
    import spark.implicits._
    def alignWinners(df: DataFrame): DataFrame =
      if (lay.aligned)
        GraftSqlBridge.dataFrameWithKeyGroupedPartitioning(spark, df,
          "bucket", lay.buckets)
      else df.repartition(scope.nBuckets, $"bucket")
    val eventCols = EventCols.map(c => col(s"e.$c").as(c))

    val deduped: DataFrame = dd.mode match {
      case "payload" =>
        // the winners carry the winning row; the local sort is the merge
        // join's own required order, so it costs nothing extra
        alignWinners(dd.winners.select(
          (Seq($"repo", $"path") ++ eventCols :+ $"bucket"): _*))
          .sortWithinPartitions($"bucket", $"repo", $"path")
      case "broadcast" =>
        // phase B: winner rows via broadcast equijoin on (key, seq), laid
        // out by bucket, then a rank over the rest of the LWW order drops
        // same-(key, seq) duplicates. The window's clustering is satisfied
        // by the bucket layout and its sort IS the merge join's, so it
        // costs no extra exchange or sort.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"bucket", $"repo", $"path")
          .orderBy(LwwOrder.filterNot(_ == "seq").map(c => col(c).desc): _*)
        alignWinners(fresh.join(
          broadcast(dd.winners.select($"repo", $"path", $"seq", $"bucket")),
          Seq("repo", "path", "seq")))
          .withColumn("_rn", row_number().over(w))
          .filter($"_rn" === 1).drop("_rn")
      case "shuffle" =>
        alignWinners(fresh
          .groupBy($"repo", $"path")
          .agg(lwwMaxBy.as("e"))
          .select((Seq($"repo", $"path") ++ eventCols): _*)
          .withColumn("bucket",
            table.bucketCol($"repo", $"path", scope.nBuckets)))
    }

    // LWW resolution per target-schema column, by stable colId. The update
    // wins only if strictly newer than the stored row's lastSeq; a winning
    // delete writes a tombstone. Columns the ChangeEvent payload doesn't
    // carry (post-evolution additions) keep the current-row value.
    val updateColByColId = Map(1 -> "repo", 2 -> "path", 3 -> "commit",
      4 -> "lang", 5 -> "content")
    val u = deduped.as("u")
    val c = lay.target.as("c")
    val uWins = $"u.seq".isNotNull &&
      ($"c.lastSeq".isNull || $"u.seq" > $"c.lastSeq")
    val isDel = uWins && $"u.op" === "d"
    val targetSchema = SchemaRegistry.schemaFor(scope.schemaId)
    val resolved: Seq[Column] = targetSchema.columns.map { tc =>
      tc.colId match {
        case 1 => col("repo")
        case 2 => col("path")
        case 6 => when(isDel, lit(null))
          .when(uWins, sha2($"u.content", 256))
          .otherwise(col(s"c.${tc.name}")).as(tc.name)
        case cid if updateColByColId.contains(cid) =>
          when(isDel, lit(null))
            .when(uWins, col(s"u.${updateColByColId(cid)}"))
            .otherwise(col(s"c.${tc.name}")).as(tc.name)
        case _ =>
          when(isDel, lit(null)).otherwise(col(s"c.${tc.name}")).as(tc.name)
      }
    } ++ Seq(
      when(uWins, $"u.seq").otherwise($"c.lastSeq").as("lastSeq"),
      when(isDel, lit(true)).when(uWins, lit(false))
        .otherwise(coalesce($"c.deleted", lit(false))).as("deleted"),
      when(isDel, "del").when(uWins, "up")
        .when($"u.seq".isNotNull, "stale").otherwise("keep").as("_tag"))

    val obs = Observation(s"epoch-$epochId-${System.nanoTime()}")
    // join ON (bucket, repo, path): bucket equality is implied by key
    // equality (both sides derive it from the key), and keeping it a join
    // key (a) lets the aligned partitioning satisfy the join's distribution
    // and (b) coalesces it in the using-join output for unmatched rows.
    val merged = c.join(u, Seq("bucket", "repo", "path"), "full_outer")
      .select((col("bucket") +: resolved): _*)
      .observe(obs,
        sum(when($"_tag" === "up", 1L).otherwise(0L)).as("up"),
        sum(when($"_tag" === "del", 1L).otherwise(0L)).as("del"),
        sum(when($"_tag" === "stale", 1L).otherwise(0L)).as("stale"))
      .drop("_tag")

    // merged output is already distributed by bucket (the aligned join), so
    // the write adds NO shuffle: an aligned write packs its buckets into
    // one task per core (unless the target's bytes need more); the
    // empty-target write keeps its own partitioning.
    val (toWrite, writeTasks) =
      if (lay.aligned) IceTable.packBuckets(merged, lay.buckets.size, lay.read)
      else (merged, 0)
    val write = table.writeEpochFilesTimed(toWrite, epochId, scope.schemaId,
      alignedByBucket = true, nBuckets = scope.nBuckets)

    val metrics = GraftSqlBridge.awaitObservation(spark, obs, "merge-write")
    (write, writeTasks, EpochStats(
      rowsExtracted = dd.freshCount + dd.quarantined,
      rowsQuarantined = dd.quarantined,
      dedupDrops = dd.freshCount - dd.upsertCount,
      rowsApplied = metrics("up").asInstanceOf[Long],
      deletesApplied = metrics("del").asInstanceOf[Long],
      staleDrops = metrics("stale").asInstanceOf[Long]))
  }

  /** Stage `commit`: the manifest (carried-forward plus new files, merged
    * offsets), the task-policy gate — abort, no commit, on failure — and
    * the rename-CAS commit. */
  private def commitEpoch(table: IceTable, scope: Scope, dd: Dedup,
      claims: Claims, files: Seq[DataFileEntry], stats: EpochStats,
      epochId: Long, nLogPartitions: Int,
      taskPolicies: Seq[TaskPolicies.Policy]): EpochManifest = {
    // completeness watermark: monotone advance to the contiguous origin
    // prefix — valid to publish only because the task-policy gate below
    // fail-stops the commit when this epoch's counters do NOT reconcile
    // (the reference's audit-count condition).
    val manifest = EpochManifest(
      version = scope.parentVersion + 1,
      epochId = epochId,
      schemaId = scope.schemaId,
      files = files.sortBy(f => (f.bucket, f.path)),
      offsets = claims.offsets,
      stats = stats,
      parentVersion = scope.parentVersion,
      completeUntilSeq = math.max(
        scope.parent.map(_.completeUntilSeq).getOrElse(Long.MinValue),
        Intervals.contiguousOriginPrefix(claims.offsets)),
      numBuckets = scope.nBuckets,
      // purge mark is table history, not epoch output — carry it (a reset
      // would hide a purge from a change-feed window spanning this commit)
      purgedBelowSeq =
        scope.parent.map(_.purgedBelowSeq).getOrElse(Long.MinValue))
    TaskPolicies.enforce(taskPolicies, stats)
    commitWithRebase(table, manifest, scope.parent, dd.buckets, claims.ivs,
      nLogPartitions)
  }

  /** Append per-partition lineage rows for a committed epoch. */
  def writeLineage(spark: SparkSession, stateDir: String, epochId: Long,
                   prev: Map[Int, Long], cur: Seq[OffsetRange],
                   stats: EpochStats): Unit = {
    import spark.implicits._
    val highs = partitionHighs(cur)
    val globalHigh = highs.values.foldLeft(Long.MinValue)(math.max)
    val rows = highs.toSeq.sortBy(_._1).map { case (p, hi) =>
      LineageRow(epochId, p, prev.getOrElse(p, -1L), hi,
        stats.rowsApplied, stats.dedupDrops,
        watermarkLag = globalHigh - hi)
    }
    rows.toDS().coalesce(1).write.options(LocalFs.keys(spark))
      .mode("overwrite").parquet(s"$stateDir/lineage/epoch=$epochId")
  }
}
