package graft

import graft.maintenance.Compaction
import graft.merge.MergeEngine
import graft.model.ChangeEvent
import graft.table.{IceTable, SessionScope}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftSqlBridge

/**
 * Change-data-feed between snapshot versions (IceTable.changesBetween):
 * insert/update/delete emission with correct images, invariance under
 * state-preserving rewrites (compaction, tombstone purge), file-diff
 * pruning, and the one-job, shuffle-free storage-partitioned diff at the
 * caller's own confs.
 */
class CdfSpec extends SparkSpec {
  import spark.implicits._

  private def ev(op: String, seq: Long, repo: String, path: String,
                 content: String): ChangeEvent =
    ChangeEvent(op, seq, repo, path, "c" * 40, "scala", content)

  private def apply(t: IceTable, epoch: Long, lo: Long, hi: Long,
                    evs: ChangeEvent*): Unit = {
    MergeEngine.applyEpoch(spark, t, evs.toDS(), epoch, nLogPartitions = 2,
      claimedRange = Some((lo, hi)))
    ()
  }

  test("changesBetween emits insert/update/delete with correct images " +
      "and seqs") {
    val t = IceTable.create(tmpDir("cdf1"), numBuckets = 4)
    apply(t, 0, 0, 3,
      ev("i", 1, "r0", "a", "A1"),
      ev("i", 2, "r0", "b", "B1"),
      ev("i", 3, "r1", "c", "C1"))
    val vA = t.currentVersion()
    apply(t, 1, 3, 6,
      ev("u", 4, "r0", "a", "A2"), // update
      ev("d", 5, "r0", "b", ""),   // delete
      ev("i", 6, "r2", "d", "D1")) // insert
    val vB = t.currentVersion()
    val ch = t.changesBetween(spark, vA, vB).collect()
      .map(r => (r.getAs[String]("change_type"), r.getAs[String]("repo"),
        r.getAs[String]("path"), r.getAs[String]("content"),
        r.getAs[Long]("seq"))).toSet
    assert(ch == Set(
      ("update", "r0", "a", "A2", 4L),
      ("delete", "r0", "b", "B1", 5L), // PREIMAGE content, tombstone seq
      ("insert", "r2", "d", "D1", 6L)),
      s"got $ch")
    // untouched key r1/c emits nothing; same-version diff is empty
    assert(t.changesBetween(spark, vA, vA).count() == 0)
    assert(t.changesBetween(spark, vB, vB).count() == 0)
    // re-insert over the tombstone reads as insert
    apply(t, 2, 6, 7, ev("u", 7, "r0", "b", "B2"))
    val vC = t.currentVersion()
    val ch2 = t.changesBetween(spark, vB, vC).collect()
      .map(r => (r.getAs[String]("change_type"), r.getAs[String]("repo"),
        r.getAs[String]("path"), r.getAs[String]("content"))).toSet
    assert(ch2 == Set(("insert", "r0", "b", "B2")))
    // transitive window A→C composes the net effect (b: delete+reinsert
    // nets to UPDATE because liveness holds on both ends with a new seq)
    val ch3 = t.changesBetween(spark, vA, vC).collect()
      .map(r => (r.getAs[String]("change_type"), r.getAs[String]("path")))
      .toSet
    assert(ch3 == Set(("update", "a"), ("update", "b"), ("insert", "d")))
  }

  test("state-preserving rewrites emit nothing: compaction + tombstone " +
      "purge diff to an empty feed") {
    val t = IceTable.create(tmpDir("cdf2"), numBuckets = 2)
    apply(t, 0, 0, 4,
      ev("i", 1, "k0", "a", "A"),
      ev("i", 2, "k0", "b", "B"),
      ev("i", 3, "k1", "c", "C"),
      ev("d", 4, "k0", "b", "")) // tombstone, purgeable below horizon
    val vA = t.currentVersion()
    val rep = Compaction.compact(spark, t)
    val vB = t.currentVersion()
    assert(vB > vA, s"compaction must commit a new snapshot: $rep")
    assert(t.changesBetween(spark, vA, vB).count() == 0,
      "a rewrite that preserves user state is not a change")
  }

  test("file-diff pruning: only files that differ between the manifests " +
      "are scanned") {
    val t = IceTable.create(tmpDir("cdf3"), numBuckets = 8)
    // spread keys over many buckets, then touch ONE key
    val evs = (1L to 64L).map(i => ev("i", i, s"r${i % 8}", s"p$i", s"V$i"))
    apply(t, 0, 0, 64, evs: _*)
    val vA = t.currentVersion()
    apply(t, 1, 64, 65, ev("u", 65, "r1", "p1", "V1b"))
    val vB = t.currentVersion()
    val mA = t.readManifest(vA)
    val mB = t.readManifest(vB)
    val common = mA.files.map(_.path).toSet
      .intersect(mB.files.map(_.path).toSet)
    assert(common.nonEmpty, "untouched buckets must carry files forward")
    val df = t.changesBetween(spark, vA, vB)
    // no common (carried-forward) file is read: with every one of them gone
    // from disk, reading one would fail the collect
    common.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      assert(hp.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(hp, false), s"could not delete carried-forward file $p")
    }
    val ch = df.collect().map(r =>
      (r.getAs[String]("change_type"), r.getAs[String]("path"))).toSet
    assert(ch == Set(("update", "p1")))
  }

  test("aligned diff is a storage-partitioned join: zero exchanges under " +
      "the SPJ confs") {
    val t = IceTable.create(tmpDir("cdf4"), numBuckets = 4)
    val evs = (1L to 32L).map(i => ev("i", i, s"r${i % 4}", s"p$i", s"V$i"))
    apply(t, 0, 0, 32, evs: _*)
    val vA = t.currentVersion()
    apply(t, 1, 32, 34,
      ev("u", 33, "r1", "p1", "V1b"), ev("d", 34, "r2", "p2", ""))
    val vB = t.currentVersion()
    // the shared session's own confs: the diff must scope the SPJ confs
    // itself, and leave every one of them as it found it
    val keys = SessionScope.CoPartitionConfs.map(_._1)
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val shuffled = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    assert(GraftSqlBridge.drainListenerBus(spark, 10000L))
    spark.sparkContext.addSparkListener(listener)
    val ch = try {
      val df = t.changesBetween(spark, vA, vB)
      assert(keys.map(k => k -> spark.conf.getOption(k)) == before,
        "changesBetween must restore the caller's confs")
      val rows = df.collect().map(r =>
        (r.getAs[String]("change_type"), r.getAs[String]("path"))).toSet
      assert(GraftSqlBridge.drainListenerBus(spark, 10000L))
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(ch == Set(("update", "p1"), ("delete", "p2")))
    assert(jobs.get == 1 && shuffled.get == 0L,
      s"aligned version diff: one job, no shuffle (jobs=${jobs.get} " +
        s"shuffleWriteBytes=${shuffled.get})")
  }
}
