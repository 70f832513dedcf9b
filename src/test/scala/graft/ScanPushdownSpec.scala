package graft

import graft.driver.ReplayJob
import graft.log.LogSpec
import graft.maintenance.Compaction
import graft.table.IceTable
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Repartition}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Every table read is the bucket scan packed by a `coalesce`
  * (`IceTable.readFiles`): column pruning and filter pushdown still reach
  * the scan below the packing. */
class ScanPushdownSpec extends SparkSpec {

  private val spec =
    LogSpec(seed = 5L, nEvents = 3000, nRepos = 10, nPathsPerRepo = 30)

  /** 8 buckets on a 4-core session: every full read is packed */
  private def table(name: String): IceTable = {
    val t = IceTable.create(tmpDir(name), numBuckets = 8)
    ReplayJob.replayGenerated(spark, t, spec, nEpochs = 2, nLogPartitions = 4)
    t
  }

  private def scanOf(plan: LogicalPlan): DataSourceV2ScanRelation = {
    val scans = plan.collect { case s: DataSourceV2ScanRelation => s }
    assert(scans.size == 1, s"one scan expected:\n$plan")
    scans.head
  }

  private def packed(plan: LogicalPlan): Boolean =
    plan.collectFirst { case r: Repartition if !r.shuffle => r }.nonEmpty

  test("read().select(lang) decodes lang and the physical columns it needs") {
    val t = table("prunelang")
    val df = t.read(spark).select("lang")
    val plan = df.queryExecution.optimizedPlan
    assert(packed(plan), s"the read must be packed:\n$plan")
    assert(scanOf(plan).scan.readSchema().fieldNames.toSeq ==
      Seq("lang", "bucket", "deleted"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      t.read(spark).collect().map(_.getAs[String]("lang")).sorted.toSeq)
  }

  test("the compaction recount decodes only deleted") {
    val t = table("recount")
    val counts = new ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = if (funcName == "count") counts.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Compaction.compact(spark, t)
      assert(GraftSqlBridge.drainListenerBus(spark, 10000L))
    } finally spark.listenerManager.unregister(l)
    val recounts = counts.asScala.toSeq
    assert(recounts.size == 1, s"one recount expected: ${recounts.size}")
    val plan = recounts.head.optimizedPlan
    assert(packed(plan), s"the recount must be packed:\n$plan")
    // bucket is the partition value the reader appends, never decoded
    assert(scanOf(plan).scan.readSchema().fieldNames.toSeq ==
      Seq("bucket", "deleted"))
  }

  test("readChangesSince pushes lastSeq > s into the scan and still " +
      "filters after it") {
    val t = table("pushseq")
    val s = 2000L
    val df = t.readChangesSince(spark, s)
    val plan = df.queryExecution.optimizedPlan
    assert(packed(plan), s"the read must be packed:\n$plan")
    assert(scanOf(plan).scan.description().contains(s"GreaterThan(lastSeq,$s)"),
      s"the filter must reach the scan:\n$plan")
    assert(plan.collectFirst { case f: Filter => f }.nonEmpty,
      s"the pushed filter must stay a post-scan filter:\n$plan")
    val seqs = df.select("lastSeq").collect().map(_.getLong(0))
    assert(seqs.nonEmpty && seqs.forall(_ > s))
    assert(seqs.length ==
      t.readRaw(spark).filter(col("lastSeq") > s).count())
  }
}
