package graft

import graft.driver.StreamingIngest
import graft.log.{ChangeLogGen, LogSpec, OracleFold}
import graft.table.IceTable
import org.apache.spark.sql.functions._

/** Structured Streaming runner: micro-batched tail of the change-log dir
  * through the same merge/commit path; checkpoint restart + offset fence
  * give exactly-once (FIXTURES.md §7 resume semantics). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  val spec = LogSpec(seed = 11L, nEvents = 12000, nRepos = 10,
    nPathsPerRepo = 30, pDelete = 0.06)

  private def shaState(t: IceTable): Map[(String, String), String] =
    t.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  private def writeSlice(logDir: String, lo: Long, hi: Long): Unit = {
    val sp = spec
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    spark.range(lo, hi).map(s => ChangeLogGen.eventAt(sp, cdf, s))
      .repartitionByRange(4, col("seq"))
      .write.mode("append").parquet(logDir)
  }

  test("streaming ingest in micro-batches matches the oracle fold") {
    val logDir = tmpDir("slog")
    val t = IceTable.create(tmpDir("stab"), numBuckets = 4)
    writeSlice(logDir, 0, 8000)
    val q = StreamingIngest.start(spark, logDir, tmpDir("sckpt"), t,
      nLogPartitions = 4, maxFilesPerTrigger = Some(2))
    q.awaitTermination()
    assert(t.currentVersion() >= 1, "expect multiple micro-batch commits")
    val oracle8k = OracleFold.fold(
      ChangeLogGen.generateLocal(spec.copy(nEvents = 8000)))
      .map { case (k, v) => k -> v.contentSha }
    assert(shaState(t) == oracle8k)
  }

  test("restart resumes from checkpoint and only ingests the new tail") {
    val logDir = tmpDir("slog2")
    val ckpt = tmpDir("sckpt2")
    val t = IceTable.create(tmpDir("stab2"), numBuckets = 4)
    writeSlice(logDir, 0, 8000)
    StreamingIngest.start(spark, logDir, ckpt, t, nLogPartitions = 4)
      .awaitTermination()
    val vMid = t.currentVersion()
    // tail grows while "down"
    writeSlice(logDir, 8000, 12000)
    StreamingIngest.start(spark, logDir, ckpt, t, nLogPartitions = 4)
      .awaitTermination()
    assert(t.currentVersion() > vMid)
    val oracle = OracleFold.fold(ChangeLogGen.generateLocal(spec))
      .map { case (k, v) => k -> v.contentSha }
    assert(shaState(t) == oracle)
  }

  test("mid-stream schema drift evolves the table atomically (streaming runner)") {
    // end-to-end injector analog: the log's tail carries schemaId=3 events;
    // the streaming runner must step the table 1→2→3 (validated metadata
    // commits) BEFORE merging that micro-batch, so its data files commit
    // under the evolved schema — and value parity must hold across the bump.
    val sp = spec.copy(nEvents = 4000)
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    val logDir = tmpDir("dlog")
    val t = IceTable.create(tmpDir("dtab"), numBuckets = 4)
    spark.range(0, 2000).map(s => ChangeLogGen.eventAt(sp, cdf, s))
      .withColumn("schemaId", lit(1))
      .coalesce(1).write.mode("append").parquet(logDir)
    spark.range(2000, 4000).map(s => ChangeLogGen.eventAt(sp, cdf, s))
      .withColumn("schemaId", lit(3))
      .coalesce(1).write.mode("append").parquet(logDir)
    StreamingIngest.start(spark, logDir, tmpDir("dckpt"), t,
      nLogPartitions = 4, maxFilesPerTrigger = Some(1),
      trackSchemaDrift = true)
      .awaitTermination()
    val m = t.currentManifest().get
    assert(m.schemaId == 3, "table must end at the batch's max schema id")
    assert(t.read(spark).columns.contains("language") &&
      !t.read(spark).columns.contains("lang"))
    val oracle = OracleFold.fold(ChangeLogGen.generateLocal(sp))
      .map { case (k, v) => k -> v.contentSha }
    assert(shaState(t) == oracle, "value parity must hold across the bump")
  }

  test("streaming micro-batch merge plan is the aligned zero-exchange join") {
    // plan audit INSIDE foreachBatch (the batch-path audit does not cover
    // the streaming runner): with the aligned path forced, a micro-batch
    // merging into a non-empty table must plan the storage-partitioned
    // join — DSv2 bucket scan target, key-grouped winner side, zero
    // planner exchanges above either.
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
      val logDir = tmpDir("alog")
      val t = IceTable.create(tmpDir("atab"), numBuckets = 4)
      writeSlice(logDir, 0, 4000)      // four files (repartitionByRange(4))
      StreamingIngest.start(spark, logDir, tmpDir("ackpt"), t,
        nLogPartitions = 4, maxFilesPerTrigger = Some(2)) // ≥2 micro-batches
        .awaitTermination()
      assert(t.currentVersion() >= 1, "need a batch merging a non-empty table")
      val deadline = System.currentTimeMillis() + 120000
      def planOpt = captured.asScala.find(p =>
        p.contains("FullOuter") && bucketScanReadsFiles(p))
      while (planOpt.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val plan = planOpt.getOrElse(
        fail(s"no aligned merge plan captured in ${captured.size} plans"))
      val mergeSection = plan.linesIterator
        .takeWhile(l => !l.contains("InMemoryRelation") &&
          !l.contains("== Initial Plan =="))
        .mkString("\n")
      assert("Exchange".r.findAllIn(mergeSection).isEmpty,
        s"streaming merge must be exchange-free above both sides:\n$plan")
      assert(mergeSection.contains("BatchScan graft_bucket_aligned"),
        s"streaming merge target must be the DSv2 bucket scan:\n$plan")
    } finally spark.listenerManager.unregister(l)
  }

  test("streaming health check surfaces a growing backlog per micro-batch") {
    import graft.driver.RateControl
    val logDir = tmpDir("hlog")
    val t = IceTable.create(tmpDir("htab"), numBuckets = 4)
    writeSlice(logDir, 0, 8000) // 4 files -> 4 micro-batches below
    val reports =
      scala.collection.mutable.ArrayBuffer.empty[RateControl.HealthReport]
    StreamingIngest.start(spark, logDir, tmpDir("hck"), t, nLogPartitions = 4,
        maxFilesPerTrigger = Some(1), produceRate = 1e12,
        onHealth = r => { reports += r; () })
      .awaitTermination()
    assert(reports.size >= 3, s"one verdict per committed batch: $reports")
    assert(reports.take(2).forall(_.healthy),
      "window not yet full -> healthy (not enough signal)")
    assert(!reports.last.healthy &&
      reports.last.reasons.exists(_.contains("consumption below produce")),
      s"an unreachable produce rate must trip the backlog signal: $reports")
  }

  test("checkpoint loss: batches replay but the offset fence makes them no-ops") {
    val logDir = tmpDir("slog3")
    val t = IceTable.create(tmpDir("stab3"), numBuckets = 4)
    writeSlice(logDir, 0, 8000)
    StreamingIngest.start(spark, logDir, tmpDir("c1"), t, nLogPartitions = 4)
      .awaitTermination()
    val v1 = t.currentVersion()
    val state1 = shaState(t)
    // fresh checkpoint → Spark re-delivers everything from scratch
    StreamingIngest.start(spark, logDir, tmpDir("c2"), t, nLogPartitions = 4)
      .awaitTermination()
    assert(t.currentVersion() == v1, "replayed batches must be fenced")
    assert(shaState(t) == state1)
  }
}
