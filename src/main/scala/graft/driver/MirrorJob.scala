package graft.driver

import graft.merge.{Intervals, MergeEngine}
import graft.model.{ChangeEvent, EpochManifest, EpochStats}
import graft.table.{IceTable, SchemaRegistry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Table MIRRORING: replicate a published IceTable into a downstream replica
 * by consuming the version-diff change feed — the engine analog of the
 * reference's dataset-replication module (gobblin-data-management/.../copy/:
 * CopySource replicates published datasets cluster-to-cluster; here the
 * unit of replication is the committed SNAPSHOT, not raw files, so a mirror
 * is itself a first-class IceTable with working time travel, serving-path
 * lookups, change feeds, and SQL-catalog access).
 *
 * Design:
 *  - The feed between the last-synced upstream version and the target
 *    version drives a normal [[MergeEngine.applyEpoch]] into the mirror —
 *    fencing, LWW, counters, commit-rebase all apply unchanged, so a sync
 *    is idempotent and crash-safe (re-running it re-fences already-applied
 *    changes).
 *  - OFFSET CONVERGENCE: the sync claims, per log partition, exactly the
 *    interval DELTA between the upstream's committed set at the target
 *    version and the mirror's own committed set ([[Intervals.subtract]]
 *    through applyEpoch's `claimedSet`). A union/range claim would be
 *    wrong: claiming a lagging partition's still-unobserved seqs fences
 *    those events when the upstream later commits them — silent loss on
 *    the mirror. With per-partition deltas the mirror's offset state
 *    converges to the upstream's exactly, which is also what makes the
 *    NEXT sync's fence correct.
 *  - SYNC-POINT TRACKING: a sync commits with `epochId = <upstream
 *    version>`, so the mirror manifest itself records the sync point
 *    atomically with the data (the store-offsets-with-data exactly-once
 *    pattern; cf. the reference's watermark-in-state-store,
 *    StateStoreBasedWatermarkStorage.java:47-125). The recorded point is
 *    TRUSTED only if the upstream still retains that version AND its
 *    committed offsets equal the mirror's — anything else (mirror
 *    compaction overwrote epochId, upstream retention expired the version,
 *    out-of-band writes) falls back to a FULL state resync, which heals
 *    every divergence a resync CAN heal: every upstream-held key converges
 *    unconditionally; a mirror-only key (tombstone purged upstream) needs a
 *    substitute delete seq from the key's partition's claim delta, and when
 *    that delta is EMPTY — the mirror's offsets not behind the upstream's —
 *    the resync fails loudly instead of silently leaving the divergence
 *    (see [[deleteSeqOrFail]]).
 *  - PURGED-TOMBSTONE deletes: a key deleted AND horizon-purged inside the
 *    sync window diffs as (live, absent) — the tombstone's seq is gone.
 *    The sync substitutes the top of the key's partition's claim delta:
 *    provably ≥ the lost tombstone seq (which lies in the delta), outside
 *    the mirror's committed set (delta is disjoint from it by
 *    construction), and > the mirror row's lastSeq — so the delete both
 *    passes the fence and wins LWW, without inventing seqs outside the
 *    claimed window.
 *
 * Scale shape: an incremental sync reads only the files the upstream
 * rewrote between the two versions (changesBetween's manifest file-diff),
 * shuffles only changed-bucket rows, and merges into only the mirror
 * buckets those keys hash to — O(delta), never O(table). The full resync
 * path scans both tables once (documented recovery path).
 *
 * A mirror table must only be written by `sync` (plus maintenance:
 * compaction/retention/rebucket are state-preserving and safe — at worst
 * they clobber the recorded sync point and cost one full resync).
 */
object MirrorJob {

  final case class MirrorOutcome(
      fromVersion: Long,     // upstream version synced from; -1 = full sync
      toVersion: Long,       // upstream version synced to
      mirrorVersion: Long,   // mirror snapshot version after the sync
      fullSync: Boolean,     // bootstrap / recovery resync (O(table) scan)
      stats: Option[EpochStats]) // None = nothing to apply (no-op / stamp)

  /** Sync `mirror` to the upstream's state at `toVersion` (default: the
    * upstream's current version). `nLogPartitions` MUST match the value the
    * upstream ingest runs with (it keys the per-partition offset universe
    * and the key→partition hash). Returns the sync outcome; no-op if the
    * mirror is already at the target version.
    *
    * `keyFilter` makes the replica SELECTIVE (the reference copy module's
    * dataset-filter role): only keys matching the predicate — which must
    * be over the KEY columns `repo`/`path` only, so a key's membership
    * never changes — are applied; the mirror converges to "upstream
    * restricted to the predicate". Claims stay FULL per partition (the
    * sync observed the whole delta and dropped non-matching keys as a
    * stable policy), so offset convergence, idempotence, and the trusted
    * sync point work exactly as for a full mirror. A mirror must be
    * synced with the SAME filter for life (like nLogPartitions). */
  def sync(spark: SparkSession, upstream: IceTable, mirror: IceTable,
           nLogPartitions: Int = 32,
           toVersion: Option[Long] = None,
           keyFilter: Option[Column] = None): MirrorOutcome = {
    val vTo = toVersion.getOrElse(upstream.currentVersion())
    require(vTo >= 0, s"upstream ${upstream.dir} has no committed snapshot")
    val up2 = upstream.readManifest(vTo)
    val upIv = MergeEngine.committedIntervals(Some(up2))
    require(upIv.keys.forall(p => p >= 0 && p < nLogPartitions),
      s"upstream offsets use partitions ${upIv.keys.toSeq.sorted} outside " +
        s"universe 0..${nLogPartitions - 1}; pass the upstream ingest's " +
        "nLogPartitions")

    val mParent = mirror.currentManifest()
    val mirIv = MergeEngine.committedIntervals(mParent)
    requireNoRegression(upstream, upIv, mirIv)

    // align the mirror's schema to the upstream's target-version schema
    // BEFORE merging; works on an empty mirror too.
    alignSchema(mirror, mParent, up2.schemaId) { mSchema =>
      s"mirror schema $mSchema is ahead of upstream ${up2.schemaId}: " +
        "not a mirror of this upstream" }

    // trusted sync point: the recorded epochId, at most vTo, retained
    // upstream with equal offsets (a second-granularity follower pays this
    // check on every applied sync, so it is one metadata read)
    val vFrom: Long = mParent.map(_.epochId)
      .filter(v => v <= vTo && syncPointTrusted(upstream, v, mirIv))
      .getOrElse(-1L)
    if (vFrom == vTo)
      return MirrorOutcome(vFrom, vTo, mirror.currentVersion(),
        fullSync = false, stats = None)

    val (delta, topOfDelta) = claimDelta(upIv, mirIv)
    if (delta.isEmpty && vFrom >= 0) {
      // metadata-only upstream movement (schema evolution, compaction,
      // retention): state-preserving by the claim invariant — just stamp
      // the new sync point so the next sync diffs from vTo.
      val v = stampSyncPoint(mirror, vTo)
      return MirrorOutcome(vFrom, vTo, v, fullSync = false, stats = None)
    }

    val (feed0, cleanup): (DataFrame, () => Unit) =
      if (vFrom >= 0)
        (changeFeedEvents(spark, upstream, vFrom, vTo, up2.schemaId,
          topOfDelta, nLogPartitions), () => ())
      else
        fullStateEvents(spark, upstream, mirror, up2, topOfDelta,
          nLogPartitions)
    try {
    // selective replica: drop non-matching keys AFTER feed construction —
    // correct for both paths (mirror-only deletes are matching keys by the
    // mirror invariant; a filtered-to-empty delta still claims + stamps)
    val feed = keyFilter.map(feed0.filter).getOrElse(feed0)

    import spark.implicits._
    val out = MergeEngine.applyEpoch(spark, mirror,
      feed.as[ChangeEvent], epochId = vTo,
      nLogPartitions = nLogPartitions,
      // rows already passed the UPSTREAM's row policies before they were
      // committed; a mirror replicates committed state verbatim (re-running
      // policies could quarantine an already-published row → divergence)
      rowPolicies = Nil,
      claimedSet = Some(delta))
    // a fully-fenced sync with no new claims leaves the manifest untouched;
    // stamp the sync point so subsequent syncs stay incremental
    val mv = if (out.manifest.epochId == vTo) out.manifest.version
             else stampSyncPoint(mirror, vTo)
    MirrorOutcome(vFrom, vTo, mv, fullSync = vFrom < 0, Some(out.stats))
    } finally cleanup()
  }

  /** STRUCTURED-STREAMING replication: drive the mirror from the
    * upstream's `.changes` feed table (ChangeFeedTable) instead of the
    * [[follow]] poll loop — the follower gets Spark's checkpointing,
    * triggers, admission control, and progress metrics for free:
    *
    * {{{
    *   // catalog conf set + upstream registered as <feedTable>'s base
    *   val q = MirrorJob.followStream(spark, "graft.commits.changes",
    *     upstream, mirror, ckptDir, nLogPartitions = 32,
    *     options = Map("maxVersionsPerTrigger" -> "16"))
    *   q.awaitTermination()
    * }}}
    *
    * Each micro-batch applies the SAME per-partition claim-delta merge as
    * [[sync]]: the batch's end version comes off the feed's
    * `_commit_version` metadata column, the claim delta is the upstream's
    * committed intervals at that version minus the mirror's own, and
    * NULL-seq deletes (tombstones purged inside the batch window — the
    * feed synthesizes them) take the substitute seq from the delta top
    * ([[deleteSeqOrFail]]: provably inside the claimed window). A
    * redelivered batch (restart between mirror commit and checkpoint
    * write) is fully fenced and only re-stamps the sync point —
    * exactly-once by the engine's own machinery, not the checkpoint's.
    * Upstream schema evolution is tracked exactly as in [[sync]]
    * (stepwise metadata-only evolution before the merge; the feed's
    * pinned vintage keeps projecting, restart the stream to SERVE evolved
    * columns downstream).
    *
    * The returned query is started; the caller owns await/stop. Backlog
    * admission (`maxVersionsPerTrigger` / `maxFilesPerTrigger` /
    * `maxBytesPerTrigger` in `options`) bounds each batch, so a follower
    * resuming after a long outage converges in bounded steps. */
  def followStream(spark: SparkSession, feedTable: String,
      upstream: IceTable, mirror: IceTable, checkpointDir: String,
      nLogPartitions: Int = 32,
      options: Map[String, String] = Map.empty,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var r = spark.readStream
    options.foreach { case (k, v) => r = r.option(k, v) }
    r.table(feedTable)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        applyFeedBatch(spark, upstream, mirror, batch, nLogPartitions)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** One [[followStream]] micro-batch: claim-delta merge of the feed rows
    * into the mirror. None = empty batch / redelivered batch (stamp only). */
  private[graft] def applyFeedBatch(spark: SparkSession, upstream: IceTable,
      mirror: IceTable, batch: org.apache.spark.sql.DataFrame,
      nLogPartitions: Int): Option[MirrorOutcome] = {
    import graft.table.ChangeFeed
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // end version + pinned vintage off the metadata columns (one small
      // aggregate; the persisted batch feeds this and the merge)
      val hdr = b.agg(
        max(col(ChangeFeed.CommitVersionCol)),
        max(col(ChangeFeed.SchemaIdCol))).head()
      if (hdr.isNullAt(0)) return None // empty batch: no progress to record
      val vTo = hdr.getLong(0)
      val feedSchemaId = hdr.getInt(1)

      val up2 = upstream.readManifest(vTo)
      val upIv = MergeEngine.committedIntervals(Some(up2))
      val mParent = mirror.currentManifest()
      val mirIv = MergeEngine.committedIntervals(mParent)
      requireNoRegression(upstream, upIv, mirIv)

      // TRUSTED-SYNC-POINT VALIDATION (the same rule sync() applies): the
      // claim below asserts the batch completely observed the delta
      // upIv(vTo) \ mirIv — true only if the mirror's state actually sits
      // at the stream's position. A mirror restored from backup under a
      // reused checkpoint (state BEHIND the batch window) would claim seqs
      // the batch never carried — silent permanent divergence, violating
      // the never-claim-unobserved invariant. Verify the recorded sync
      // point's upstream offsets equal the mirror's; anything else fails
      // loudly (the stream path cannot full-resync inside a micro-batch —
      // run MirrorJob.sync to heal, then restart the stream). A mirror at
      // or beyond vTo (manual sync while the stream was down, or a
      // redelivered batch after checkpoint loss) is a no-op batch.
      mParent.foreach { pm =>
        val point = pm.epochId
        if (!syncPointTrusted(upstream, point, mirIv))
          throw new IllegalStateException(
            s"mirror ${mirror.dir} state does not match its recorded sync " +
              s"point (epochId=$point) against upstream ${upstream.dir}: " +
              "the stream's claim-delta merge would claim seqs this batch " +
              "did not observe (mirror restored from backup? checkpoint " +
              "reused? sync point expired?). Run MirrorJob.sync to " +
              "re-converge, then restart the stream from a fresh checkpoint")
        if (point >= vTo)
          return Some(MirrorOutcome(point, vTo, mirror.currentVersion(),
            fullSync = false, stats = None))
      }

      // mirror schema tracks the upstream's at vTo (metadata-only steps)
      alignSchema(mirror, mParent, up2.schemaId) { mSchema =>
        s"mirror schema $mSchema ahead of upstream ${up2.schemaId}" }

      val (delta, topOfDelta) = claimDelta(upIv, mirIv)

      // feed rows → ChangeEvent envelope under the batch's pinned vintage
      val sch = SchemaRegistry.schemaFor(feedSchemaId)
      def pc(colId: Int): Column = col(sch.byColId(colId).name)
      val isDel = col("op") === "d"
      val events = b.select(
        col("op"),
        when(col("seq").isNull, deleteSeqOrFail(topOfDelta, nLogPartitions))
          .otherwise(col("seq")).as("seq"),
        pc(1).as("repo"), pc(2).as("path"),
        coalesce(pc(3), lit("")).as("commit"),
        coalesce(pc(4), lit("")).as("lang"),
        when(isDel, lit("")).otherwise(coalesce(pc(5), lit("")))
          .as("content"))
      import spark.implicits._
      val out = MergeEngine.applyEpoch(spark, mirror,
        events.as[ChangeEvent], epochId = vTo,
        nLogPartitions = nLogPartitions,
        rowPolicies = Nil, // upstream already policy-gated these rows
        claimedSet = Some(delta))
      val mv = if (out.manifest.epochId == vTo) out.manifest.version
               else stampSyncPoint(mirror, vTo)
      Some(MirrorOutcome(mParent.map(_.epochId).getOrElse(-1L), vTo, mv,
        fullSync = false, Some(out.stats)))
    } finally { b.unpersist(); () }
  }

  /** CONTINUOUS replication: poll the upstream and sync whenever it has
    * moved past the mirror's recorded sync point; stop after
    * `maxIdlePolls` consecutive polls with no movement (pass
    * `Int.MaxValue` to follow until the process is stopped — the
    * run-until-shutdown posture of the reference's streaming execution
    * model, ExecutionModel.java:28-32). The movement probe is one
    * metadata listing (`currentVersion`), so an idle follower costs no
    * data IO; each applied sync is the normal incremental
    * O(changed buckets) path. For a follower that should instead ride
    * Spark's checkpoint/trigger machinery, see [[followStream]]. Returns
    * the applied syncs' outcomes. */
  def follow(spark: SparkSession, upstream: IceTable, mirror: IceTable,
             nLogPartitions: Int = 32, pollMs: Long = 1000L,
             maxIdlePolls: Int = 3,
             keyFilter: Option[Column] = None): Seq[MirrorOutcome] = {
    val outs = scala.collection.mutable.ArrayBuffer.empty[MirrorOutcome]
    var idle = 0
    while (idle < maxIdlePolls) {
      val vUp = upstream.currentVersion()
      val atPoint = mirror.currentManifest().map(_.epochId).getOrElse(-1L)
      if (vUp >= 0 && vUp != atPoint) {
        outs += sync(spark, upstream, mirror, nLogPartitions,
          toVersion = Some(vUp), keyFilter = keyFilter)
        idle = 0
      } else {
        idle += 1
        if (idle < maxIdlePolls) Thread.sleep(pollMs)
      }
    }
    outs.toSeq
  }

  /** HARD-ROLLBACK GUARD: a mirror's committed offsets must be a subset of
    * the upstream's (the mirror only ever claims upstream deltas). If the
    * upstream's offsets have regressed BELOW the mirror's — the signature
    * of [[IceTable.rollbackTo]] — no mechanical sync can converge: every
    * re-emitted row loses the fence/LWW against the mirror's newer state,
    * and a "successful" sync would silently stamp a diverged replica.
    * Fail loudly instead; a rolled-back upstream needs its replicas
    * REBUILT (or should have used Revert.revertTo, which mirrors follow
    * normally). */
  private def requireNoRegression(upstream: IceTable,
      upIv: Map[Int, Seq[(Long, Long)]],
      mirIv: Map[Int, Seq[(Long, Long)]]): Unit = {
    val regressed = mirIv.collect { case (p, ivs)
      if Intervals.subtract(ivs, upIv.getOrElse(p, Nil)).nonEmpty => p }
    if (regressed.nonEmpty)
      throw new IllegalStateException(
        s"upstream ${upstream.dir} committed offsets regressed below the " +
          s"mirror's on partitions ${regressed.toSeq.sorted.mkString(",")} " +
          "(hard snapshot rollback?): a mirror cannot be mechanically " +
          "rolled back — rebuild the replica, or roll the upstream " +
          "forward with Revert.revertTo (CDC-consistent)")
  }

  /** The mirror's recorded sync point `point` is trusted iff it is a
    * version the upstream still retains and the upstream's committed
    * offsets at it equal the mirror's. Retention is probed by reading THAT
    * version's manifest directly (missing ⇒ expired ⇒ untrusted): one
    * metadata read, not an O(versions) history listing. */
  private def syncPointTrusted(upstream: IceTable, point: Long,
      mirIv: Map[Int, Seq[(Long, Long)]]): Boolean =
    point >= 0 && {
      try normalized(MergeEngine.committedIntervals(
        Some(upstream.readManifest(point)))) == normalized(mirIv)
      catch { case _: java.io.FileNotFoundException => false }
    }

  /** Step the mirror's schema up to the upstream's `upSchemaId`
    * (metadata-only; the registry history is linear and `evolveSchema`
    * validates each step). A mirror schema ahead of the upstream's fails
    * with `aheadError(mirrorSchemaId)`. */
  private def alignSchema(mirror: IceTable, mParent: Option[EpochManifest],
      upSchemaId: Int)(aheadError: Int => String): Unit = {
    val mSchema = mParent.map(_.schemaId)
      .getOrElse(SchemaRegistry.baseSchemaId)
    require(upSchemaId >= mSchema, aheadError(mSchema))
    if (upSchemaId > mSchema)
      ((mSchema + 1) to upSchemaId).foreach(mirror.evolveSchema(_))
  }

  /** The per-partition claim delta, upstream committed \ mirror committed,
    * and its top seq per partition: the substitute seq for a delete whose
    * tombstone purged inside the window (see the object docs). */
  private def claimDelta(upIv: Map[Int, Seq[(Long, Long)]],
      mirIv: Map[Int, Seq[(Long, Long)]])
      : (Map[Int, Seq[(Long, Long)]], Map[Int, Long]) = {
    val delta = upIv.flatMap { case (p, ivs) =>
      val d = Intervals.subtract(ivs, mirIv.getOrElse(p, Nil))
      if (d.isEmpty) None else Some(p -> d)
    }
    (delta, delta.map { case (p, ivs) => p -> ivs.map(_._2).max })
  }

  private def normalized(m: Map[Int, Seq[(Long, Long)]])
      : Map[Int, Seq[(Long, Long)]] =
    m.map { case (p, ivs) => p -> Intervals.normalize(ivs) }
      .filter(_._2.nonEmpty)

  /** Metadata-only commit recording `vTo` as the mirror's sync point
    * (epochId). Only called when the mirror's STATE already equals the
    * upstream's at vTo (no-op sync / fully-fenced resync). */
  private def stampSyncPoint(mirror: IceTable, vTo: Long): Long =
    mirror.currentManifest() match {
      case Some(pm) if pm.epochId == vTo => pm.version
      case Some(pm) => mirror.commit(pm.copy(version = pm.version + 1,
        epochId = vTo, parentVersion = pm.version)).version
      case None => -1L // empty upstream, empty mirror: nothing to record
    }

  /** ChangeEvent payload column for a stable colId under the upstream's
    * CURRENT schema names (renames track colIds, so a mirror of a
    * renamed-column table still feeds the right payload). */
  private def payloadCol(schemaId: Int, colId: Int): Column =
    col(SchemaRegistry.schemaFor(schemaId).byColId(colId).name)

  /** Incremental feed: the upstream's changesBetween mapped to ChangeEvent
    * shape (insert/update → i/u with postimage; delete → d with the
    * tombstone seq, or the partition's delta top if the tombstone purged
    * inside the window — [[deleteSeqOrFail]]; on a trusted sync point the
    * purged seq provably lies in the delta, so the strict path never
    * fires in a correct run). */
  private def changeFeedEvents(spark: SparkSession, upstream: IceTable,
      vFrom: Long, vTo: Long, schemaId: Int,
      topOfDelta: Map[Int, Long], nLogPartitions: Int): DataFrame = {
    val ch = upstream.changesBetween(spark, vFrom, vTo)
    val isDel = col("change_type") === "delete"
    ch.select(
      when(col("change_type") === "insert", lit("i"))
        .when(col("change_type") === "update", lit("u"))
        .otherwise(lit("d")).as("op"),
      when(col("seq").isNull,
        deleteSeqOrFail(topOfDelta, nLogPartitions))
        .otherwise(col("seq")).as("seq"),
      col("repo"), col("path"),
      coalesce(payloadCol(schemaId, 3), lit("")).as("commit"),
      coalesce(payloadCol(schemaId, 4), lit("")).as("lang"),
      when(isDel, lit(""))
        .otherwise(coalesce(payloadCol(schemaId, 5), lit("")))
        .as("content"))
  }

  /** Substitute seq for a delete whose real seq is unrecoverable (a
    * purged-in-window tombstone on the incremental/stream paths, a
    * mirror-only key on the full resync): the top of the key's partition's
    * claim delta. When that partition's delta is EMPTY the sync FAILS
    * LOUDLY instead of guessing: an empty delta
    * means the mirror's committed offsets already cover the upstream's for
    * that partition, so any substitute either sits inside the mirror's
    * committed set (the fence drops it — the old Long.MinValue fallback
    * silently lost LWW the same way) or above it (an unclaimed seq that can
    * collide with future upstream seqs). A mirror whose offsets are AHEAD
    * of its upstream while holding keys the upstream lacks is not a mirror
    * of this upstream — no mechanical resync heals it; rebuild the replica.
    * The error is raised per offending ROW (raise_error inside the plan),
    * so a resync with no such keys never pays or sees it. */
  private def deleteSeqOrFail(topOfDelta: Map[Int, Long],
                              nLogPartitions: Int): Column = {
    val sub: Column =
      if (topOfDelta.isEmpty) lit(null).cast("long")
      else {
        val kvs = topOfDelta.toSeq.flatMap { case (p, s) => Seq(lit(p), lit(s)) }
        element_at(map(kvs: _*), MergeEngine.logPartitionCol(nLogPartitions))
      }
    when(sub.isNull, raise_error(concat(
      lit("mirror full resync cannot heal divergence: mirror-only key ("),
      col("repo"), lit(", "), col("path"),
      lit(") hashes to a log partition with an EMPTY claim delta — the " +
        "mirror's committed offsets are not behind the upstream's there, " +
        "so no substitute delete seq can both pass the fence and win LWW; " +
        "this replica is not a mirror of this upstream (rebuild it)")))
      .cast("long"))
      .otherwise(sub)
  }

  /** Recovery feed: the upstream's full raw state (live rows as upserts,
    * surviving tombstones as deletes with their own seqs) plus deletes for
    * mirror-live keys the upstream no longer knows (tombstones purged
    * before the resync). O(both tables) — bootstrap/repair only. ONE
    * upstream scan: the projected event view is persisted and feeds both
    * the event stream and the anti-join key side (without the persist,
    * Catalyst plans two scans of the same files — self-referencing
    * branches don't CSE). Returns the feed plus the unpersist cleanup the
    * caller runs after the sync's actions complete. */
  private def fullStateEvents(spark: SparkSession, upstream: IceTable,
      mirror: IceTable, up2: graft.model.EpochManifest,
      topOfDelta: Map[Int, Long], nLogPartitions: Int)
      : (DataFrame, () => Unit) = {
    val isDel = coalesce(col("deleted"), lit(false))
    val upEv = upstream.readFiles(spark, up2.files, up2.schemaId)
      .select(
        when(isDel, lit("d")).otherwise(lit("i")).as("op"),
        col("lastSeq").as("seq"),
        col("repo"), col("path"),
        coalesce(payloadCol(up2.schemaId, 3), lit("")).as("commit"),
        coalesce(payloadCol(up2.schemaId, 4), lit("")).as("lang"),
        when(isDel, lit(""))
          .otherwise(coalesce(payloadCol(up2.schemaId, 5), lit("")))
          .as("content"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mirrorOnlyDels = mirror.read(spark)
      .select(col("repo"), col("path"))
      .join(upEv.select(col("repo"), col("path")),
        Seq("repo", "path"), "left_anti")
      .select(lit("d").as("op"),
        deleteSeqOrFail(topOfDelta, nLogPartitions).as("seq"),
        col("repo"), col("path"),
        lit("").as("commit"), lit("").as("lang"), lit("").as("content"))
    (upEv.unionByName(mirrorOnlyDels), () => { upEv.unpersist(); () })
  }
}
