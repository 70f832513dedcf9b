package graft.driver

import graft.merge.{Intervals, MergeEngine}
import graft.model.{DataFileEntry, EpochStats}
import graft.table.{IceTable, SchemaRegistry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}

/**
 * Table MIRRORING: replicate a published IceTable into a downstream replica
 * by copying its data files and committing them — the engine analog of
 * Gobblin's Iceberg copy (gobblin-data-management/.../copy/iceberg/
 * IcebergDataset copies the data files, IcebergRegisterStep registers them
 * in the replica). The unit of replication is the committed SNAPSHOT, so a
 * mirror is itself a first-class IceTable with working time travel,
 * serving-path lookups, change feeds, and SQL-catalog access.
 *
 * A sync converges the mirror to the upstream's state at `vTo` by
 * copy-then-commit on the driver, with no Spark job:
 *  - read the upstream's `vTo` manifest;
 *  - every listed file the mirror's CURRENT manifest already lists under
 *    the same bucket and name is reused (names `e<epoch>-part-<task>-
 *    <job uuid>….parquet` are unique within a bucket; one write task's
 *    files share a name across buckets); every other one is copied into
 *    the mirror's staging dir and published by rename into
 *    `data/bucket=<b>/<same name>`, the files in parallel on the driver
 *    IO pool ([[IceTable.copyFilesFrom]]);
 *  - one rename-CAS commit ([[IceTable.commit]]) of a manifest that takes
 *    the file list (mirror paths, footer stats kept), offsets, schema,
 *    bucket count and completeness watermark from `vTo`, keeps the purge
 *    mark monotone (max of both), and records `epochId = vTo` as the sync
 *    point. A sync whose manifest would equal the mirror's commits nothing.
 *
 * Bootstrap, incremental sync, full resync after a clobbered sync point,
 * and metadata-only upstream moves (schema evolution, compaction, expiry)
 * are all this one path: what differs is only how many files are already
 * held. A rebucketed upstream is adopted whole (its bucket count and file
 * list), never mixed with the old layout.
 *
 * Crash safety: only files the mirror's PARENT manifest lists are reused.
 * A file a crashed sync published but never committed is replaced by a
 * fresh copy, never adopted, so every file a sync adds carries a fresh
 * mtime and the orphan sweep's grace ([[IceTable.expireSnapshots]])
 * protects it until the commit; a crash leaves only unreferenced files.
 * A CAS loss against concurrent mirror maintenance fails loudly.
 *
 * A mirror table should only be written by `sync`. Maintenance is safe
 * (expiry keeps every referenced file; a compaction or rebucket of the
 * mirror costs one re-copy of the files it rewrote at the next sync).
 */
object MirrorJob {

  final case class MirrorOutcome(
      fromVersion: Long,     // mirror's recorded sync point; -1 = empty mirror
      toVersion: Long,       // upstream version synced to
      mirrorVersion: Long,   // mirror snapshot version after the sync
      fullSync: Boolean,     // the mirror had no snapshot (bootstrap)
      stats: Option[EpochStats]) // always None: a sync applies no rows

  /** Sync `mirror` to the upstream's state at `toVersion` (default: the
    * upstream's current version) by copy-then-commit (see the object
    * docs). `nLogPartitions` MUST match the value the upstream ingest runs
    * with: the upstream's committed offsets must lie in its universe. An
    * upstream whose offsets regressed below the mirror's, or whose schema is
    * behind the mirror's, fails loudly. Emits one `MirrorSynced` event. */
  def sync(spark: SparkSession, upstream: IceTable, mirror: IceTable,
           nLogPartitions: Int = 32,
           toVersion: Option[Long] = None): MirrorOutcome = {
    val vTo = toVersion.getOrElse(upstream.currentVersion())
    require(vTo >= 0, s"upstream ${upstream.dir} has no committed snapshot")
    val up2 = upstream.readManifest(vTo)
    val upIv = MergeEngine.committedIntervals(Some(up2))
    require(upIv.keys.forall(p => p >= 0 && p < nLogPartitions),
      s"upstream offsets use partitions ${upIv.keys.toSeq.sorted} outside " +
        s"universe 0..${nLogPartitions - 1}; pass the upstream ingest's " +
        "nLogPartitions")

    val mParent = mirror.currentManifest()
    requireNoRegression(upstream, upIv, MergeEngine.committedIntervals(mParent))
    val mSchema = mParent.fold(SchemaRegistry.baseSchemaId)(_.schemaId)
    require(up2.schemaId >= mSchema,
      s"mirror schema $mSchema is ahead of upstream ${up2.schemaId}: " +
        "not a mirror of this upstream")
    SchemaRegistry.validateEvolution(SchemaRegistry.schemaFor(mSchema),
      SchemaRegistry.schemaFor(up2.schemaId))

    val t0 = System.nanoTime()
    val held: Map[(Int, String), DataFileEntry] =
      mParent.fold(Seq.empty[DataFileEntry])(_.files).map(f => key(f) -> f).toMap
    val (reused, missing) = up2.files.partition(f => held.contains(key(f)))
    val copied = mirror.copyFilesFrom(upstream, missing)
    val t1 = System.nanoTime()
    val next = up2.copy(
      version = mParent.fold(0L)(_.version + 1),
      epochId = vTo,
      files = (reused.map(f => f.copy(path = held(key(f)).path)) ++
        copied).sortBy(f => (f.bucket, f.path)),
      stats = EpochStats(0, 0, 0, 0, 0, 0),
      parentVersion = mParent.fold(-1L)(_.version),
      numBuckets = upstream.bucketCountOf(Some(up2)),
      purgedBelowSeq = math.max(up2.purgedBelowSeq,
        mParent.fold(Long.MinValue)(_.purgedBelowSeq)))
    val unchanged = mParent.exists(pm => pm.copy(version = next.version,
      parentVersion = next.parentVersion,
      commitTimeMillis = next.commitTimeMillis) == next)
    val mirrorVersion =
      if (unchanged) next.parentVersion else mirror.commit(next).version
    val t2 = System.nanoTime()
    val fromVersion = mParent.fold(-1L)(_.epochId)
    graft.metrics.Metrics.emit("graft.driver", "MirrorSynced", Map(
      "upstream" -> upstream.dir,
      "table" -> mirror.dir,
      "fromVersion" -> fromVersion.toString,
      "toVersion" -> vTo.toString,
      "mirrorVersion" -> mirrorVersion.toString,
      "filesCopied" -> copied.size.toString,
      "filesReused" -> reused.size.toString,
      "bytesCopied" -> copied.map(f => math.max(0L, f.bytes)).sum.toString,
      "copyMs" -> ((t1 - t0) / 1000000L).toString,
      "commitMs" -> ((t2 - t1) / 1000000L).toString))
    MirrorOutcome(fromVersion, vTo, mirrorVersion, fullSync = mParent.isEmpty,
      stats = None)
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
    * Each micro-batch reads only `max(_commit_version)`, the upstream
    * version the batch ends at. At or below the mirror's recorded sync
    * point it is a no-op (a redelivered batch after checkpoint loss);
    * otherwise it runs [[sync]] to that version, which converges the mirror
    * whatever state it holds (a mirror restored from backup under a reused
    * checkpoint included). Mirror maintenance records an ops epochId above
    * every upstream version, so after compacting or rebucketing a streamed
    * mirror run [[sync]] once to record a sync point again.
    *
    * The returned query is started; the caller owns await/stop. Backlog
    * admission (`maxVersionsPerTrigger` / `maxFilesPerTrigger` /
    * `maxBytesPerTrigger` in `options`) bounds each batch. */
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
        val end = batch.agg(max(col(graft.table.ChangeFeed.CommitVersionCol)))
          .head()
        if (!end.isNullAt(0) &&
            mirror.currentManifest().forall(_.epochId < end.getLong(0)))
          sync(spark, upstream, mirror, nLogPartitions,
            toVersion = Some(end.getLong(0)))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** CONTINUOUS replication: poll the upstream and sync whenever it has
    * moved past the mirror's recorded sync point; stop after
    * `maxIdlePolls` consecutive polls with no movement (pass
    * `Int.MaxValue` to follow until the process is stopped — the
    * run-until-shutdown posture of the reference's streaming execution
    * model, ExecutionModel.java:28-32). The movement probe is one
    * metadata listing (`currentVersion`), so an idle follower costs no
    * data IO; each applied sync copies only the files the mirror lacks.
    * For a follower that should instead ride Spark's checkpoint/trigger
    * machinery, see [[followStream]]. Returns the applied syncs'
    * outcomes. */
  def follow(spark: SparkSession, upstream: IceTable, mirror: IceTable,
             nLogPartitions: Int = 32, pollMs: Long = 1000L,
             maxIdlePolls: Int = 3): Seq[MirrorOutcome] = {
    val outs = scala.collection.mutable.ArrayBuffer.empty[MirrorOutcome]
    var idle = 0
    while (idle < maxIdlePolls) {
      val vUp = upstream.currentVersion()
      val atPoint = mirror.currentManifest().map(_.epochId).getOrElse(-1L)
      if (vUp >= 0 && vUp != atPoint) {
        outs += sync(spark, upstream, mirror, nLogPartitions,
          toVersion = Some(vUp))
        idle = 0
      } else {
        idle += 1
        if (idle < maxIdlePolls) Thread.sleep(pollMs)
      }
    }
    outs.toSeq
  }

  /** HARD-ROLLBACK GUARD: a mirror's committed offsets must be a subset of
    * the upstream's (a sync copies the upstream's offsets). If the
    * upstream's offsets have regressed BELOW the mirror's — the signature
    * of [[IceTable.rollbackTo]] — the mirror would silently move backwards
    * under its own change-feed consumers. Fail loudly instead; a
    * rolled-back upstream needs its replicas REBUILT (or should have used
    * Revert.revertTo, which mirrors follow normally). */
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

  /** a data file's bucket and name: unique in any table (epoch tag, write
    * task and write job uuid within the bucket) */
  private def key(f: DataFileEntry): (Int, String) =
    (f.bucket, new org.apache.hadoop.fs.Path(f.path).getName)
}
