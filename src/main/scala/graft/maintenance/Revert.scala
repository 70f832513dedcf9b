package graft.maintenance

import graft.merge.MergeEngine
import graft.model.ChangeEvent
import graft.table.{IceTable, SchemaRegistry, SqlAppend}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * CDC-CONSISTENT rollback: restore a retained snapshot's user-visible
 * state as a COMPENSATING EPOCH instead of a metadata re-point.
 *
 * [[IceTable.rollbackTo]] is the fast ops hammer — O(metadata), but it
 * REGRESSES committed offsets, which no downstream consumer can follow
 * (feeds can't interpret the window; mirrors fail loudly). `revertTo`
 * instead computes the BACKWARD version diff `changesBetween(current, v)`
 * — exactly the changes that transform the current state into v's — and
 * applies it as a normal engine epoch with FRESH engine-allocated seqs in
 * the reserved upper namespace (the [[SqlAppend]] allocation discipline:
 * a contiguous claimed block above every committed high). The commit is a
 * normal forward commit, so:
 *
 *  - change-feed consumers see the revert as ordinary change events
 *    (inserts/updates with v's images, deletes for keys v lacked);
 *  - mirrors converge through their normal incremental sync;
 *  - offsets, completeness, and purge horizons keep their invariants.
 *
 * Cost is O(changed buckets between v and current) — the manifest
 * file-diff bounds the read set, same as a forward feed. Caveat shared
 * with the SQL write path: reverted keys carry upper-namespace seqs, so
 * later SOURCE-log events for those keys lose LWW — revert when the log
 * position is also being rewound or the keys are no longer fed.
 *
 * Ref: the reference's job-rollback posture is re-running from an older
 * watermark (state-store versioned watermarks,
 * gobblin-metastore/.../StateStoreBasedWatermarkStorage.java:47-125);
 * here the table itself supports both the re-point and the compensating
 * replay.
 */
object Revert {

  /** epochId tag range for revert commits. Ops tag ranges, in one place:
    * compaction 1.0e9+, SQL appends 1.2e9+, hard rollback 1.3e9+
    * (IceTable.rollbackTo), compensating revert 1.4e9+ — DISTINCT bases so
    * history() distinguishes a hard re-point from a compensating replay. */
  private[graft] val EpochIdBase = 1400000000L

  def revertTo(spark: SparkSession, table: IceTable, v: Long,
               nLogPartitions: Int = 32): MergeEngine.EpochOutcome = {
    val cur = table.currentManifest().getOrElse(
      throw new IllegalStateException("revertTo on an empty table"))
    require(v >= 0 && v <= cur.version,
      s"revertTo($v): no such version (current ${cur.version})")
    if (v == cur.version)
      return MergeEngine.EpochOutcome(cur, skipped = true,
        graft.model.EpochStats(0, 0, 0, 0, 0, 0))
    val vSchema = table.readManifest(v).schemaId
    val sch = SchemaRegistry.schemaFor(vSchema)
    def pc(colId: Int) = col(sch.byColId(colId).name)
    // backward diff = the compensating changes current → v, with v's
    // images as the postimages (the diff targets toVersion's schema)
    val ch = table.changesBetween(spark, cur.version, v)
    val isDel = col("change_type") === "delete"
    val payload = ch.select(
      when(col("change_type") === "insert", lit("i"))
        .when(col("change_type") === "update", lit("u"))
        .otherwise(lit("d")).as("op"),
      col("repo"), col("path"),
      coalesce(pc(3), lit("")).as("commit"),
      coalesce(pc(4), lit("")).as("lang"),
      when(isDel, lit("")).otherwise(coalesce(pc(5), lit("")))
        .as("content"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = payload.count()
      if (n == 0) // states already identical — nothing to compensate
        return MergeEngine.EpochOutcome(cur, skipped = true,
          graft.model.EpochStats(0, 0, 0, 0, 0, 0))
      val committed = MergeEngine.committedIntervals(Some(cur))
      val base = SqlAppend.allocBase(committed)
      import spark.implicits._
      val events = SqlAppend.withDenseSeqs(spark, payload, base)
        .select(col("op"), col("seq"), col("repo"), col("path"),
          col("commit"), col("lang"), col("content")).as[ChangeEvent]
      MergeEngine.applyEpoch(spark, table, events,
        epochId = EpochIdBase + cur.version + 1L,
        nLogPartitions = nLogPartitions,
        rowPolicies = Nil, // re-applying rows the table already admitted
        claimedRange = Some((base, base + n)))
    } finally { payload.unpersist(); () }
  }
}
