package graft

import graft.maintenance.Compaction
import graft.merge.MergeEngine
import graft.metrics.Metrics
import graft.model.ChangeEvent
import graft.table.{IceTable, SessionScope}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Pluggable tracking-event emission (gobblin-metrics analog): post-commit
  * events, reporter failure isolation, counter parity with EpochStats, and
  * the engine's named Spark jobs. */
class MetricsSpec extends SparkSpec {
  import spark.implicits._
  private implicit val formats: Formats = DefaultFormats

  private def ev(op: String, seq: Long, p: String, v: String) =
    ChangeEvent(op, seq, "r", p, "c" * 40, "scala", v)

  private def readEvents(dir: String): Seq[(String, String, Map[String, String])] = {
    val d = new java.io.File(dir)
    val files = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".jsonl"))
    files.flatMap { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().map { line =>
        val j = JsonMethods.parse(line)
        ((j \ "namespace").extract[String], (j \ "name").extract[String],
          (j \ "metadata").extract[Map[String, String]])
      }.toSeq
    }.toSeq
  }

  /** `applyEpoch` plus its wall milliseconds as the caller sees them */
  private def timedApply(f: => MergeEngine.EpochOutcome)
      : (MergeEngine.EpochOutcome, Long) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1000000L)
  }

  test("post-commit events land in the jsonl reporter; counters match " +
      "EpochStats; fenced replays emit nothing new") {
    val mDir = tmpDir("mrep")
    Metrics.clearReporters()
    Metrics.addReporter(new Metrics.JsonLinesFileReporter(mDir,
      spark.sessionState.newHadoopConf()))
    try {
      val t = IceTable.create(tmpDir("mtab"), numBuckets = 4)
      // inputs are built outside the timed calls: a cold JVM spends seconds
      // deriving the first encoder, which is the caller's cost
      val in0 = (0 until 50).map(i => ev("i", i.toLong, s"p$i", s"v$i")).toDS()
      val (out0, wall0) = timedApply(MergeEngine.applyEpoch(spark, t, in0, 0,
        nLogPartitions = 2, claimedRange = Some((-1L, 49L))))
      // pure fenced replay: no commit, no event
      val outR = MergeEngine.applyEpoch(spark, t,
        (0 until 50).map(i => ev("i", i.toLong, s"p$i", s"v$i")).toDS(), 0,
        nLogPartitions = 2, claimedRange = Some((-1L, 49L)))
      assert(outR.skipped)
      // declared-empty slice: metadata-only COMMIT -> event with the flag
      val inE = spark.emptyDataset[ChangeEvent]
      val (outE, wallE) = timedApply(MergeEngine.applyEpoch(spark, t, inE, 1,
        nLogPartitions = 2, claimedRange = Some((49L, 60L))))
      assert(outE.skipped && outE.manifest.version == out0.manifest.version + 1)
      graft.maintenance.Compaction.compact(spark, t)
      val expireT0 = System.nanoTime()
      t.expireSnapshots(keepLast = 1)
      val expireWall = (System.nanoTime() - expireT0) / 1000000L

      // local ChecksumFileSystem buffers until close: close reporters
      // (= the consumer contract on file://) before reading the lines
      Metrics.clearReporters()
      val events = readEvents(mDir)
      val commits = events.filter(_._2 == "EpochCommitted")
      assert(commits.size == 2, s"one real + one metadata-only: $events")
      val real = commits.find(_._3("metadataOnly") == "false").get._3
      assert(real("table") == t.dir && real("epochId") == "0")
      assert(real("rowsApplied") == out0.stats.rowsApplied.toString &&
        real("rowsExtracted") == out0.stats.rowsExtracted.toString)
      val mo = commits.find(_._3("metadataOnly") == "true").get._3
      assert(mo("epochId") == "1" && mo("completeUntilSeq") == "60")
      // every commit event carries the full counters and per-stage wall
      // times that account for the caller-measured applyEpoch time
      Seq((real, out0, wall0), (mo, outE, wallE)).foreach {
        case (e, out, wall) =>
          val st = out.stats
          assert(Seq("rowsExtracted", "rowsQuarantined", "dedupDrops",
            "rowsApplied", "deletesApplied", "staleDrops").map(e(_)) ==
            Seq(st.rowsExtracted, st.rowsQuarantined, st.dedupDrops,
              st.rowsApplied, st.deletesApplied, st.staleDrops)
              .map(_.toString), s"event counters != $st: $e")
          val stageMs = MergeEngine.Stages.map(s => e(s"${s}Ms").toLong)
          assert(stageMs.forall(_ >= 0), s"negative stage time: $e")
          assert(math.abs(wall - stageMs.sum) <= math.max(wall / 10, 50L),
            s"stages sum to ${stageMs.sum} ms, applyEpoch took $wall ms: $e")
      }
      // a tiny declared epoch onto an empty table: payload dedup, static
      // plan, no target to align
      assert(real("dedupMode") == "payload" && real("aqe") == "false" &&
        real("aligned") == "false")
      assert(real("filesWritten").toInt ==
        out0.manifest.files.count(_.path.contains("/e0-")))
      assert(Seq("writeJobMs", "publishMs", "footerStatsMs")
        .forall(k => real(k).toLong >= 0))
      assert(mo("filesWritten") == "0" && mo("layoutMs") == "0" &&
        mo("writeMs") == "0")
      assert(events.exists(e => e._1 == "graft.maintenance" &&
        e._2 == "CompactionFinished" && e._3("table") == t.dir))
      val expiry = events.filter(e => e._1 == "graft.maintenance" &&
        e._2 == "SnapshotsExpired").map(_._3)
      assert(expiry.size == 1, s"one expiry event: $events")
      // wall ms, split into listing and deletes, within the caller's time
      val Seq(wallMs, listMs, deleteMs) =
        Seq("wallMs", "listMs", "deleteMs").map(expiry.head(_).toLong)
      assert(listMs >= 0 && deleteMs >= 0 &&
        math.abs(wallMs - listMs - deleteMs) <= 1 && wallMs <= expireWall,
        s"expiry took $expireWall ms: ${expiry.head}")
    } finally Metrics.clearReporters()
  }

  test("a mirror sync emits one MirrorSynced event: copied plus reused " +
      "files equal the upstream's file count, and no EpochCommitted") {
    val mDir = tmpDir("mrep3")
    Metrics.clearReporters()
    Metrics.addReporter(new Metrics.JsonLinesFileReporter(mDir,
      spark.sessionState.newHadoopConf()))
    try {
      val up = IceTable.create(tmpDir("mup"), numBuckets = 4)
      val mir = IceTable.create(tmpDir("mmir"), numBuckets = 4)
      MergeEngine.applyEpoch(spark, up,
        (0 until 20).map(i => ev("i", i.toLong, s"p$i", s"v$i")).toDS(), 0,
        nLogPartitions = 2, claimedRange = Some((-1L, 19L)))
      graft.driver.MirrorJob.sync(spark, up, mir, nLogPartitions = 2)
      MergeEngine.applyEpoch(spark, up, Seq(ev("u", 20L, "p3", "w")).toDS(),
        1, nLogPartitions = 2, claimedRange = Some((19L, 20L)))
      graft.driver.MirrorJob.sync(spark, up, mir, nLogPartitions = 2)
      Metrics.clearReporters() // flush-on-close for the local scheme
      val events = readEvents(mDir)
      val syncs = events.filter(_._2 == "MirrorSynced").map(_._3)
      assert(syncs.size == 2 && events.filter(_._2 == "MirrorSynced")
        .forall(_._1 == "graft.driver"), s"one event per sync: $events")
      syncs.foreach { e =>
        val upFiles = up.readManifest(e("toVersion").toLong).files.size
        assert(e("filesCopied").toInt + e("filesReused").toInt == upFiles, e)
        assert(e("table") == mir.dir && e("upstream") == up.dir)
        assert(e("mirrorVersion").toLong >= 0 && e("copyMs").toLong >= 0 &&
          e("commitMs").toLong >= 0, e)
      }
      val Seq(boot, inc) = syncs
      assert(boot("fromVersion") == "-1" && boot("filesReused") == "0" &&
        boot("bytesCopied").toLong > 0, boot)
      assert(inc("fromVersion") == boot("toVersion") &&
        inc("filesCopied") == "1", inc)
      assert(!events.exists(e =>
        e._2 == "EpochCommitted" && e._3("table") == mir.dir),
        "the mirror commits no engine epoch")
    } finally Metrics.clearReporters()
  }

  test("every Spark job an epoch or a compaction starts is named after " +
      "its stage; the caller's job description comes back") {
    val t = IceTable.create(tmpDir("mdesc"), numBuckets = 4)
    MergeEngine.applyEpoch(spark, t,
      (0 until 40).map(i => ev("i", i.toLong, s"p$i", s"v$i")).toDS(), 0,
      nLogPartitions = 2, claimedRange = Some((-1L, 39L)))
    val in1 = (0 until 8).map(i => ev("u", 40L + i, s"p$i", s"w$i")).toDS()
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SessionScope.JobDescriptionKey)))
          .getOrElse("")); ()
      }
    }
    def described(body: => Unit): Seq[String] = {
      import scala.jdk.CollectionConverters._
      assert(GraftSqlBridge.drainListenerBus(spark, 10000L))
      descs.clear()
      body
      assert(GraftSqlBridge.drainListenerBus(spark, 10000L))
      descs.asScala.toSeq
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      val epoch = described {
        MergeEngine.applyEpoch(spark, t, in1, 1, nLogPartitions = 2,
          claimedRange = Some((39L, 47L))); ()
      }
      assert(sc.getLocalProperty(SessionScope.JobDescriptionKey) == "caller")
      val stages = MergeEngine.Stages.toSet
      assert(epoch.nonEmpty && epoch.forall(d =>
        d.startsWith("graft epoch 1 ") &&
          stages(d.stripPrefix("graft epoch 1 "))), s"$epoch")
      assert(epoch.contains("graft epoch 1 write"), s"$epoch")
      val version = t.currentVersion()
      val compact = described { Compaction.compact(spark, t); () }
      assert(sc.getLocalProperty(SessionScope.JobDescriptionKey) == "caller")
      assert(compact.toSet == Set(s"graft compact v$version rewrite",
        s"graft compact v$version recount"), s"$compact")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("a throwing reporter never fails the pipeline; later reporters " +
      "still receive the event") {
    val mDir = tmpDir("mrep2")
    Metrics.clearReporters()
    // registered LAST = consulted first (list prepend): the failure must
    // not shadow the healthy reporter behind it
    Metrics.addReporter(new Metrics.JsonLinesFileReporter(mDir,
      spark.sessionState.newHadoopConf()))
    Metrics.addReporter(new Metrics.MetricsReporter {
      def report(e: Metrics.MetricEvent): Unit =
        throw new RuntimeException("reporter down")
    })
    try {
      val t = IceTable.create(tmpDir("mtab2"), numBuckets = 2)
      val out = MergeEngine.applyEpoch(spark, t,
        Seq(ev("i", 1L, "p1", "v")).toDS(), 0, nLogPartitions = 2,
        claimedRange = Some((0L, 1L)))
      assert(!out.skipped, "ingest must survive a broken reporter")
      Metrics.clearReporters() // flush-on-close for the local scheme
      assert(readEvents(mDir).exists(_._2 == "EpochCommitted"),
        "healthy reporter still gets the event")
    } finally Metrics.clearReporters()
  }
}
