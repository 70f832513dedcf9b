package graft

import graft.driver.ReplayJob
import graft.log.{ChangeLogGen, LogSpec, OracleFold}
import graft.maintenance.Compaction
import graft.table.IceTable
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {

  val spec = LogSpec(seed = 31L, nEvents = 6000, nRepos = 8,
    nPathsPerRepo = 25, pDelete = 0.15)

  private def shaState(t: IceTable): Map[(String, String), String] =
    t.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  test("compaction purges tombstones, bounds files, preserves the user table") {
    val t = IceTable.create(tmpDir("ctab"), numBuckets = 4)
    ReplayJob.replayGenerated(spark, t, spec, nEpochs = 6, nLogPartitions = 4)
    val before = shaState(t)
    val filesBefore = t.currentManifest().get.files.size
    val tombsBefore = t.readRaw(spark).filter(col("deleted")).count()
    assert(tombsBefore > 0, "deletes must have produced tombstones")

    val report = Compaction.compact(spark, t)
    assert(report.purgedTombstones == tombsBefore,
      "contiguously-covered tombstones must all purge")
    assert(shaState(t) == before, "user table must be unchanged")
    assert(t.readRaw(spark).filter(col("deleted")).count() == 0)
    assert(t.currentManifest().get.files.size <= 4,
      s"one file per non-empty bucket after compaction (was $filesBefore)")
    // offsets carried forward: a full replay is still fully fenced
    val reports = ReplayJob.replayGenerated(spark, t, spec, nEpochs = 6,
      nLogPartitions = 4)
    assert(reports.forall(_.skipped))
    assert(shaState(t) == before)
  }

  test("compaction collapses a hand-fragmented table to one file per bucket") {
    import spark.implicits._
    import graft.model.{EpochManifest, EpochStats, OffsetRange}
    val t = IceTable.create(tmpDir("scoped"), numBuckets = 32)
    def rows(keys: Seq[Int], seqBase: Long) = keys.map(i =>
        (s"r$i", s"p$i", "c" * 40, "scala", s"v$i",
          OracleFold.sha256Hex(s"v$i")))
      .toDF("repo", "path", "commit", "lang", "content", "contentSha")
      .withColumn("bucket", t.bucketCol(col("repo"), col("path")))
      .withColumn("lastSeq", lit(seqBase))
      .withColumn("deleted", lit(false))
    // two file generations: buckets hit by BOTH generations hold two files
    val f0 = t.writeEpochFiles(rows(0 until 60, 1L), 0)
    val f1 = t.writeEpochFiles(rows(60 until 66, 2L), 1)
    val all = (f0 ++ f1).sortBy(f => (f.bucket, f.path))
    val buckets = all.map(_.bucket).toSet
    assert(all.groupBy(_.bucket).exists(_._2.size >= 2),
      "fixture must fragment some bucket")
    t.commit(EpochManifest(0, 1, 1, all,
      (0 until 32).map(p => OffsetRange(p, -1L, 2L)),
      EpochStats(66, 0, 0, 66, 0, 0), -1L))
    val before = shaState(t)

    val report = Compaction.compact(spark, t)
    assert(report.compactedBuckets == buckets.size, s"every bucket: $report")
    val m2 = t.currentManifest().get
    assert(m2.files.map(_.bucket).sorted == buckets.toSeq.sorted,
      s"one file per bucket: ${m2.files}")
    assert(m2.files.map(_.path).toSet.intersect(all.map(_.path).toSet).isEmpty,
      "every bucket is rewritten")
    // rewritten entries carry footer-verified per-file row counts
    assert(m2.files.forall(_.rows > 0) && m2.files.map(_.rows).sum == 66L)
    assert(shaState(t) == before, "user table must be unchanged")
  }

  test("rebucket doubles the layout width with value parity and intact fence") {
    import spark.implicits._
    import graft.merge.MergeEngine
    import graft.model.ChangeEvent
    val t = IceTable.create(tmpDir("rbk"), numBuckets = 4)
    ReplayJob.replayGenerated(spark, t, spec, nEpochs = 4, nLogPartitions = 4)
    val before = shaState(t)
    assert(t.numBuckets == 4)

    val rep = graft.maintenance.Rebucket.rebucket(spark, t, 8)
    assert(rep.oldNumBuckets == 4 && rep.newNumBuckets == 8 && rep.rows > 0)
    assert(t.numBuckets == 8,
      "the manifest must record the new bucket count")
    val m = t.currentManifest().get
    assert(m.files.map(_.bucket).distinct.size > 4,
      "rows must actually spread over the widened layout")
    assert(shaState(t) == before, "user table unchanged by rebucket")

    // fence intact: a full replay of the ingested log is still fenced
    val reports = ReplayJob.replayGenerated(spark, t, spec, nEpochs = 4,
      nLogPartitions = 4)
    assert(reports.forall(_.skipped), "replay after rebucket must be fenced")

    // new ingest + compaction now plan against the 8-bucket layout
    val ev = Seq(ChangeEvent("u", spec.nEvents.toLong, "rX", "pX",
      "c" * 40, "scala", "NEW"))
    MergeEngine.applyEpoch(spark, t, ev.toDS(), 99, nLogPartitions = 4,
      claimedRange = Some((spec.nEvents - 1L, spec.nEvents.toLong)))
    Compaction.compact(spark, t)
    assert(shaState(t) ==
      before + (("rX", "pX") -> graft.log.OracleFold.sha256Hex("NEW")))
    assert(t.currentManifest().get.files.forall(_.bucket < 8))
  }

  test("safeHorizon respects committed-interval gaps") {
    import graft.model.{EpochManifest, EpochStats, OffsetRange}
    val m = EpochManifest(0, 0, 1, Nil,
      Seq(OffsetRange(0, -1, 100), OffsetRange(1, -1, 50),
        OffsetRange(1, 80, 120)), // partition 1 has a gap (50, 80]
      EpochStats(0, 0, 0, 0, 0, 0), -1)
    // partition 0 contiguous to 100; partition 1 contiguous only to 50
    assert(Compaction.safeHorizon(m) == 50L)
  }

  test("safeHorizon stays MinValue when a partition is not anchored at origin") {
    import graft.model.{EpochManifest, EpochStats, OffsetRange}
    // out-of-order segment arrival: first committed run covers (199,299] but
    // seqs 0..199 are still outstanding — NO purge may happen (a tombstone at
    // seq 250 could otherwise be resurrected by a late update at seq 150).
    val m = EpochManifest(0, 0, 1, Nil,
      Seq(OffsetRange(0, -1, 100), OffsetRange(1, 199, 299)),
      EpochStats(0, 0, 0, 0, 0, 0), -1)
    assert(Compaction.safeHorizon(m) == Long.MinValue)
  }
}
