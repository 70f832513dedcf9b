package graft

import graft.log.{ChangeLogGen, LogSpec, OracleFold}
import graft.driver.ReplayJob
import graft.merge.MergeEngine
import graft.table.IceTable
import org.apache.spark.sql.functions._

/**
 * Golden end-to-end replay (SURVEY.md §5): replay a deterministic change log
 * in K epochs, assert the final IceTable state matches the in-memory oracle
 * fold by per-row sha256(content) — the north-star invariant. Plus
 * idempotence (replay twice ⇒ identical snapshot) and resume-from-crash.
 */
class ReplayEndToEndSpec extends SparkSpec {

  val spec = LogSpec(seed = 42L, nEvents = 10000, nRepos = 20,
    nPathsPerRepo = 50, pDelete = 0.08)

  private def tableState(t: IceTable): Map[(String, String), (String, String)] =
    t.read(spark).select("repo", "path", "contentSha", "commit")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3)))
      .toMap

  private def oracleState: Map[(String, String), (String, String)] =
    OracleFold.fold(ChangeLogGen.generateLocal(spec))
      .map { case (k, v) => k -> (v.contentSha, v.commit) }

  test("4-epoch replay matches the oracle fold per-row (sha256 + commit)") {
    val t = IceTable.create(tmpDir("icetable"), numBuckets = 8)
    val reports = ReplayJob.replayGenerated(spark, t, spec, nEpochs = 4,
      nLogPartitions = 8, stateDir = Some(tmpDir("state")))
    assert(reports.size == 4)
    assert(reports.forall(!_.skipped))
    // counters consistency: extracted == applied + deletes + dedupDrops per epoch
    reports.foreach { r =>
      assert(r.stats.rowsExtracted ==
        r.stats.rowsApplied + r.stats.deletesApplied + r.stats.dedupDrops +
          r.stats.rowsQuarantined + r.stats.staleDrops,
        s"epoch ${r.epochId} counter mismatch: ${r.stats}")
      assert(r.stats.staleDrops == 0, "ordered replay must see no stale drops")
    }
    val got = tableState(t)
    val want = oracleState
    assert(got.size == want.size,
      s"row count: got ${got.size}, want ${want.size}")
    assert(got == want)
  }

  test("replaying the same log again is a fenced no-op (exactly-once)") {
    val t = IceTable.create(tmpDir("icetable"), numBuckets = 8)
    ReplayJob.replayGenerated(spark, t, spec, nEpochs = 4, nLogPartitions = 8)
    val v1 = t.currentVersion()
    val m1 = t.currentManifest().get
    // full second replay — every epoch below the committed watermarks
    val reports = ReplayJob.replayGenerated(spark, t, spec, nEpochs = 4,
      nLogPartitions = 8)
    assert(reports.forall(_.skipped), "replay epochs must all be fenced")
    assert(t.currentVersion() == v1, "no new snapshot may be committed")
    assert(t.currentManifest().get == m1)
    assert(tableState(t) == oracleState)
  }

  test("resume after crash between epochs reaches the same final state") {
    val t = IceTable.create(tmpDir("icetable"), numBuckets = 8)
    // first run "crashes" after 2 of 4 epochs: simulate by only running 2
    val sp = spec // local copy: the map closure must not capture the suite
    val per = sp.nEvents / 4
    import spark.implicits._
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    def slice(lo: Long, hi: Long) =
      spark.range(lo + 1, hi + 1).map(s => ChangeLogGen.eventAt(sp, cdf, s))
    val ranges = (0 until 4).map { e =>
      (e.toLong, e * per - 1, if (e == 3) sp.nEvents - 1 else (e + 1) * per - 1)
    }
    ReplayJob.run(spark, t, id => { val (_, lo, hi) = ranges(id.toInt); slice(lo, hi) },
      ranges.take(2), nLogPartitions = 8)
    assert(t.currentVersion() == 1) // two snapshots: v0, v1
    // second run replays ALL epochs (resume does not know where it died)
    val reports = ReplayJob.run(spark, t,
      id => { val (_, lo, hi) = ranges(id.toInt); slice(lo, hi) },
      ranges, nLogPartitions = 8)
    assert(reports.take(2).forall(_.skipped))
    assert(reports.drop(2).forall(!_.skipped))
    assert(tableState(t) == oracleState)
  }

  test("crash between data-file write and manifest commit is harmless") {
    val t = IceTable.create(tmpDir("icetable"), numBuckets = 8)
    ReplayJob.replayGenerated(spark, t, spec, nEpochs = 2, nLogPartitions = 8)
    val before = tableState(t)
    // simulate the torn write: orphan data files for a never-committed epoch
    import spark.implicits._
    val junk = Seq(("evil/repo", "p", "c", "scala", "junk", "deadbeef", 3))
      .toDF("repo", "path", "commit", "lang", "content", "contentSha", "bucket")
    t.writeEpochFiles(junk, epochId = 999)
    // reader sees only manifest-listed files — orphans are invisible
    assert(tableState(t) == before)
    assert(!t.read(spark).filter(col("repo") === "evil/repo").count().>(0))
    // crash cleanup removes them; committed files stay
    t.dropUncommittedEpochFiles(999)
    assert(t.listEpochFiles(999).isEmpty)
    assert(tableState(t) == before)
  }

  test("over-provisioned epochs never claim unobserved seqs (clamp)") {
    // more epochs than events: unclamped planning used to claim ranges past
    // the log's top seq, permanently fencing events appended later.
    val tiny = LogSpec(seed = 7L, nEvents = 6, nRepos = 2, nPathsPerRepo = 2,
      pDelete = 0.0)
    val logDir = tmpDir("clamplog")
    ChangeLogGen.writeLog(spark, tiny, logDir, nFiles = 2)
    val t = IceTable.create(tmpDir("clamptab"), numBuckets = 2)
    ReplayJob.replayParquetLog(spark, t, logDir, nEpochs = 10,
      nLogPartitions = 2)
    val highNow = t.currentManifest().get.offsets.map(_.highSeq).max
    assert(highNow == 5L, s"claimed high must be the real top seq, got $highNow")
    // append to the log; the appended events must NOT be fenced
    val grown = tiny.copy(nEvents = 12)
    ChangeLogGen.writeLog(spark, grown, logDir, nFiles = 2)
    ReplayJob.replayParquetLog(spark, t, logDir, nEpochs = 3,
      nLogPartitions = 2)
    val want = OracleFold.fold(ChangeLogGen.generateLocal(grown))
      .map { case (k, v) => k -> v.contentSha }
    val got = t.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got == want, "appended events must be applied after re-replay")

    // generator path: nEpochs > nEvents must neither fabricate events past
    // nEvents nor claim their seqs
    val t2 = IceTable.create(tmpDir("clampgen"), numBuckets = 2)
    ReplayJob.replayGenerated(spark, t2, tiny, nEpochs = 10,
      nLogPartitions = 2)
    assert(t2.currentManifest().get.offsets.map(_.highSeq).max == 5L)
    val got2 = t2.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val want2 = OracleFold.fold(ChangeLogGen.generateLocal(tiny))
      .map { case (k, v) => k -> v.contentSha }
    assert(got2 == want2)
  }

  test("merge plan is bucket-aligned: target in place, one winner exchange") {
    import scala.jdk.CollectionConverters._
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val t = IceTable.create(tmpDir("align"), numBuckets = 4)
      ReplayJob.replayGenerated(spark, t, spec.copy(nEvents = 4000),
        nEpochs = 2, nLogPartitions = 4)
      // correctness through the claimed-partitioning scan path
      val sp = spec.copy(nEvents = 4000)
      val want = OracleFold.fold(ChangeLogGen.generateLocal(sp))
        .map { case (k, v) => k -> (v.contentSha, v.commit) }
      assert(tableState(t) == want,
        "aligned-scan replay must match the oracle fold")
      // listener delivery is async; wait for the epoch-1 merge plan (both
      // sides non-empty -> a real full-outer join: the target side is the
      // DSv2 bucket scan, the winner side the key-grouped-laid ExistingRDD)
      // generous: listener delivery is async and this shared host can stall
      // for tens of seconds under load (2.4x noise, see BENCH.md)
      val deadline = System.currentTimeMillis() + 120000
      def planOpt = captured.asScala.find(p =>
        p.contains("FullOuter") && bucketScanReadsFiles(p))
      while (planOpt.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val plan = planOpt.getOrElse(
        fail(s"no merge plan captured; got ${captured.size} plans"))
      // count only the merge plan proper: the printed string also embeds the
      // adaptive Initial Plan and the cached winners' InMemoryRelation
      // subplan (whose own envelope-aggregation exchange is expected) —
      // both appear strictly BELOW the join.
      val mergeSection = plan.linesIterator
        .takeWhile(l => !l.contains("InMemoryRelation") &&
          !l.contains("== Initial Plan =="))
        .mkString("\n")
      // storage-partitioned join: Catalyst recognises the DSv2 scan's
      // KeyGroupedPartitioning and the winner side's identical claimed
      // layout — ZERO planner exchanges in the merge plan. The target is
      // read IN PLACE (BatchScan under the join, unsorted: see below); the
      // winner side's single layout shuffle lives inside its RDD lineage
      // (dataFrameWithKeyGroupedPartitioning), not as an Exchange node.
      val nShuffles = "Exchange".r.findAllIn(mergeSection).length
      assert(nShuffles == 0,
        s"bucket-aligned merge: storage-partitioned join must need no " +
          s"planner exchange on either side (got $nShuffles):\n$plan")
      assert(mergeSection.contains("BatchScan graft_bucket_aligned"),
        s"the merge target must be the DSv2 bucket scan:\n$plan")
      assert(mergeSection.contains("ExistingRDD"),
        s"the winner side must be the key-grouped-laid RDD:\n$plan")
      // the target's files are key-sorted and flagged, one per bucket: the
      // scan reports the join's order, so nothing between it and the join
      // sorts
      val lines = mergeSection.linesIterator.toVector
      def depth(x: String): Int = x.prefixLength(" :+-|".contains(_))
      val scanAt = lines.indexWhere(_.contains("BatchScan graft_bucket_aligned"))
      val belowJoin = (scanAt - 1 to 0 by -1)
        .foldLeft((depth(lines(scanAt)), Vector.empty[String], false)) {
          case ((d, acc, done), i) =>
            if (done || depth(lines(i)) >= d) (d, acc, done)
            else if (lines(i).contains("SortMergeJoin")) (d, acc, true)
            else (depth(lines(i)), acc :+ lines(i), false)
        }._2
      assert(belowJoin.nonEmpty && !belowJoin.exists(_.contains("Sort [")),
        s"no Sort may sit between the target scan and the join:\n$plan")
    } finally spark.listenerManager.unregister(l)
  }

  test("merge plan stays flat in bucket count (one BatchScan at 128 buckets)") {
    import scala.jdk.CollectionConverters._
    // the r2 construction built numBuckets sub-plans + coalesce(1) each;
    // the DSv2 scan must keep ONE scan node however many buckets exist
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val t = IceTable.create(tmpDir("flat"), numBuckets = 128)
      ReplayJob.replayGenerated(spark, t,
        spec.copy(nEvents = 2000, nRepos = 40, nPathsPerRepo = 20),
        nEpochs = 2, nLogPartitions = 4)
      val deadline = System.currentTimeMillis() + 120000
      def planOpt = captured.asScala.find(p =>
        p.contains("FullOuter") && bucketScanReadsFiles(p))
      while (planOpt.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val plan = planOpt.getOrElse(fail(s"no merge plan in ${captured.size}"))
      val mergeSection = plan.linesIterator
        .takeWhile(x => !x.contains("InMemoryRelation") &&
          !x.contains("== Initial Plan =="))
        .toSeq
      assert(mergeSection.count(_.contains("BatchScan")) == 1,
        s"exactly ONE scan node regardless of bucket count:\n$plan")
      assert(mergeSection.size < 60,
        s"merge plan must not grow with bucket count " +
          s"(${mergeSection.size} lines):\n$plan")
    } finally spark.listenerManager.unregister(l)
  }

  test("segment-claimed epoch onto a small target merges bucket-aligned") {
    // an epoch of unknown size (no declared claim) keeps AQE and the
    // envelope dedup; onto a small non-empty target it must still read the
    // target in place through the bucket-aligned scan, with no exchange
    // (so AQE has nothing to wrap), and keep the one-file-per-bucket write
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val nBuckets = 4
    val t = IceTable.create(tmpDir("segal"), numBuckets = nBuckets)
    val sp = spec.copy(nEvents = 4000)
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    def slice(lo: Long, hi: Long) =
      spark.range(lo, hi).map(s => ChangeLogGen.eventAt(sp, cdf, s))
    MergeEngine.applyEpoch(spark, t, slice(0, 2000), 0, nLogPartitions = 4)
    spark.listenerManager.register(l)
    try {
      val out = MergeEngine.applyEpoch(spark, t, slice(2000, 4000), 1,
        nLogPartitions = 4)
      assert(!out.skipped)
      val written = out.manifest.files.filter(_.path.contains("/e1-"))
      assert(written.nonEmpty && written.size <= nBuckets + 1,
        s"epoch 1 wrote ${written.size} files for $nBuckets buckets")
      val want = OracleFold.fold(ChangeLogGen.generateLocal(sp))
        .map { case (k, v) => k -> (v.contentSha, v.commit) }
      assert(tableState(t) == want, "must match the oracle fold")
      val deadline = System.currentTimeMillis() + 120000
      def planOpt = captured.asScala.find(p =>
        p.contains("FullOuter") && bucketScanReadsFiles(p))
      while (planOpt.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val plan = planOpt.getOrElse(
        fail(s"no aligned merge plan captured in ${captured.size} plans"))
      val mergeSection = plan.linesIterator
        .takeWhile(x => !x.contains("InMemoryRelation") &&
          !x.contains("== Initial Plan =="))
        .mkString("\n")
      assert("Exchange".r.findAllIn(mergeSection).isEmpty,
        s"the merge must need no planner exchange:\n$plan")
      assert(mergeSection.contains("BatchScan graft_bucket_aligned"),
        s"the merge target must be the DSv2 bucket scan:\n$plan")
      // the envelope dedup's rank window, not the tiny-epoch payload path
      assert(mergeSection.contains("Window"), s"envelope dedup:\n$plan")
    } finally spark.listenerManager.unregister(l)
  }

  test("skew: no reducer partition holds a disproportionate share") {
    // Zipf-hot repo must not translate into a hot merge partition: the merge
    // keys on (repo, path) buckets, so hot-repo events spread over its paths.
    val hotSpec = spec.copy(nEvents = 20000, zipfExponent = 1.4)
    import spark.implicits._
    val df = ChangeLogGen.generate(spark, hotSpec)
      .withColumn("bucket", pmod(xxhash64($"repo", $"path"), lit(8)))
    val counts = df.groupBy("bucket").count().collect().map(_.getLong(1))
    val (mx, avg) = (counts.max, counts.sum / counts.length)
    assert(mx < avg * 2, s"bucket skew too high: max=$mx avg=$avg")
  }

  /** The task counts the three packed stages ran with, and the fixture
    * facts they depend on. */
  private final case class Packed(touchedBuckets: Int, minFileBytes: Long,
      epochWriteTasks: Int, epochFilesWritten: Int, feedPartitions: Int,
      compactWriteTasks: Int)

  /** Replace every metrics reporter with one that collects the events into
    * the returned list; the caller clears the reporters when done. */
  private def captureEvents()
      : java.util.List[graft.metrics.Metrics.MetricEvent] = {
    import graft.metrics.Metrics
    val seen =
      new java.util.concurrent.CopyOnWriteArrayList[Metrics.MetricEvent]()
    Metrics.clearReporters()
    Metrics.addReporter(new Metrics.MetricsReporter {
      def report(e: Metrics.MetricEvent): Unit = { seen.add(e); () }
    })
    seen
  }

  /** Run the three packed stages on a 32-bucket table: a 3600-event
    * preload onto the empty target (not packed), a 400-event aligned epoch,
    * `changesBetween` over that epoch, and a full compaction, with `confs`
    * set from the aligned epoch on. Every answer is checked on the way: the
    * table against the oracle fold after the epoch and after the compaction,
    * the feed against the diff of the two `readAt` views, one file per
    * bucket after the compaction. */
  private def packedStages(label: String,
      confs: Seq[(String, String)]): Packed = {
    import spark.implicits._
    import graft.metrics.Metrics
    val seen = captureEvents()
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      val t = IceTable.create(tmpDir(label), numBuckets = 32)
      val sp = spec.copy(seed = 53L, nEvents = 4000)
      val evs = ChangeLogGen.generateLocal(sp).toVector
      val (pre, tiny) = (evs.take(3600), evs.slice(3600, 4000))
      MergeEngine.applyEpoch(spark, t, pre.toDS(), 0, nLogPartitions = 4,
        claimedRange = Some((-1L, 3599L)))
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val out = MergeEngine.applyEpoch(spark, t, tiny.toDS(), 1,
        nLogPartitions = 4, claimedRange = Some((3599L, 3999L)))
      val v = out.manifest.version
      val want = OracleFold.fold(evs)
        .map { case (k, r) => k -> (r.contentSha, r.commit) }
      assert(tableState(t) == want, "epoch: must match the oracle fold")
      val touched = tiny.toDS()
        .select(t.bucketCol($"repo", $"path", 32)).distinct().count().toInt

      // the feed of the packed epoch is exactly the readAt diff
      def view(version: Long): Map[(String, String), Seq[Any]] =
        t.readAt(spark, version).collect().map { r =>
          (r.getAs[String]("repo"), r.getAs[String]("path")) ->
            r.toSeq.drop(2)
        }.toMap
      val (before, after) = (view(v - 1), view(v))
      val feed = t.changesBetween(spark, v - 1, v)
      // feed rows: change_type, repo, path, the user columns, seq
      val rows = feed.collect().map { r =>
        (r.getAs[String]("change_type"),
          (r.getAs[String]("repo"), r.getAs[String]("path")),
          (3 until r.length - 1).map(r.get))
      }
      rows.foreach {
        case ("insert", k, img) =>
          assert(!before.contains(k) && after.get(k).contains(img), s"$k")
        case ("update", k, img) =>
          assert(before.contains(k) && after.get(k).contains(img), s"$k")
        case ("delete", k, img) =>
          assert(!after.contains(k) && before.get(k).contains(img), s"$k")
        case other => fail(s"unexpected feed row $other")
      }
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(changed.nonEmpty && changed.subsetOf(rows.map(_._2).toSet),
        "every key whose user row changed must be in the feed")
      assert(rows.map(_._2).distinct.length == rows.length,
        "one feed row per key")

      val rep = graft.maintenance.Compaction.compact(spark, t)
      assert(tableState(t) == want, "compaction: must match the oracle fold")
      val m = t.currentManifest().get
      assert(rep.compactedBuckets == 32 &&
        m.files.groupBy(_.bucket).values.forall(_.size == 1),
        s"one file per bucket after compaction: ${m.files.map(_.bucket)}")

      Metrics.clearReporters()
      def event(name: String, version: Long) = {
        import scala.jdk.CollectionConverters._
        seen.asScala.find(e => e.name == name &&
          e.metadata("table") == t.dir &&
          e.metadata("version") == version.toString)
          .getOrElse(fail(s"no $name event for version $version"))
          .metadata
      }
      val epochEv = event("EpochCommitted", v)
      val compactEv = event("CompactionFinished", rep.version)
      assert(Seq("writeJobMs", "publishMs", "footerStatsMs")
        .forall(k => compactEv(k).toLong >= 0), s"$compactEv")
      assert(epochEv("filesWritten").toInt ==
        out.manifest.files.count(_.path.contains("/e1-")))
      val minFileBytes = Seq(v - 1, v)
        .flatMap(x => t.readManifest(x).files).map(_.bytes).min
      Packed(touched, minFileBytes, epochEv("writeTasks").toInt,
        epochEv("filesWritten").toInt, feed.rdd.getNumPartitions,
        compactEv("writeTasks").toInt)
    } finally {
      Metrics.clearReporters()
      prev.foreach {
        case (k, Some(x)) => spark.conf.set(k, x)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("packing bucket-aligned stages into one task per core keeps one " +
      "file per bucket and the answers") {
    assert(spark.sparkContext.defaultParallelism == 4)
    val p = packedStages("pack", Nil)
    assert(p.touchedBuckets > 4, s"fixture must touch many buckets: $p")
    assert(p.epochWriteTasks == 4 && p.epochFilesWritten == p.touchedBuckets,
      s"aligned epoch: one task per core, one file per touched bucket: $p")
    assert(p.feedPartitions == 4, s"feed: one task per core: $p")
    assert(p.compactWriteTasks == 4, s"compaction: one task per core: $p")
  }

  test("packing never runs a stage on fewer tasks than its bytes need") {
    // a few KB per task: every file of this table is larger, so each
    // stage's bytes need one task per bucket it reads
    val p = packedStages("packguard",
      Seq("spark.sql.files.maxPartitionBytes" -> "2k"))
    assert(p.touchedBuckets == 32 && p.minFileBytes > 2048,
      s"fixture must touch every bucket with files past 2k: $p")
    assert(p.epochWriteTasks == 32 && p.epochFilesWritten == 32,
      s"aligned epoch: one task per touched bucket: $p")
    assert(p.feedPartitions == 32, s"feed: one task per bucket: $p")
    assert(p.compactWriteTasks == 32, s"compaction: one task per bucket: $p")
  }

  test("a tiny epoch with one bucket holding most of its keys still writes " +
      "one packed file per touched bucket") {
    import spark.implicits._
    import graft.model.ChangeEvent
    import graft.metrics.Metrics
    val seen = captureEvents()
    try {
      val t = IceTable.create(tmpDir("hotbucket"), numBuckets = 8)
      val keys = (0 until 200).map(i => f"p$i%03d")
      val pre = keys.zipWithIndex.map { case (k, i) =>
        ChangeEvent("i", i.toLong, "r", k, "c" * 40, "scala", s"v$k") }
      MergeEngine.applyEpoch(spark, t, pre.toDS(), 0, nLogPartitions = 2,
        claimedRange = Some((-1L, 199L)))
      // winners fall 5 / 1 / 1 / 1 / 1 over five buckets
      val byBucket = keys.groupBy(t.bucketOf("r", _)).toSeq.sortBy(_._1)
      assert(byBucket.size == 8 && byBucket.forall(_._2.size >= 5))
      val picked = byBucket.head._2.take(5) ++
        byBucket.slice(1, 5).map(_._2.head)
      val tiny = picked.zipWithIndex.map { case (k, i) =>
        ChangeEvent("u", 200L + i, "r", k, "c" * 40, "scala", s"new$k") }
      val parent = t.currentManifest().get
      val out = MergeEngine.applyEpoch(spark, t, tiny.toDS(), 1,
        nLogPartitions = 2, claimedRange = Some((199L, 204L)))
      val want = OracleFold.fold(pre ++ tiny)
        .map { case (k, r) => k -> (r.contentSha, r.commit) }
      assert(tableState(t) == want, "must match the oracle fold")

      import scala.jdk.CollectionConverters._
      val ev = seen.asScala.find(e => e.name == "EpochCommitted" &&
        e.metadata("version") == out.manifest.version.toString)
        .getOrElse(fail("no EpochCommitted event")).metadata
      val touched = byBucket.take(5).map(_._1).toSet
      val read = parent.files.filter(f => touched.contains(f.bucket))
      val packed = IceTable.packedTasks(spark, touched.size, read)
      assert(packed > 0 && ev("writeTasks").toInt == packed,
        s"the aligned write must be packed into $packed tasks: $ev")
      assert(ev("filesWritten").toInt == touched.size,
        s"one file per touched bucket: $ev")
    } finally Metrics.clearReporters()
  }
}
