package graft

import org.apache.spark.sql.SparkSession

/** Dev-only plan dumper for the optimization-round deliverables: writes
  * `.explain("formatted")` of each named query's RETURNED DataFrame to
  * `<outDir>/<name>.txt`. For the engine queries the returned plan is the
  * final table read; their per-epoch merge plans run inside the epoch's
  * write, so capture them with a `QueryExecutionListener` registered on
  * the session (each write's `qe.executedPlan`; see ReplayEndToEndSpec).
  * The `EpochCommitted` event says which plan shape each epoch took
  * (`dedupMode`, `aqe`, `aligned`).
  * Usage: runMain graft.PlanDump <outDir> [name,...] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val only = if (args.length > 1)
      Some(args(1).split(",").map(_.trim).toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-plan-dump")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$name.txt"), txt)
          System.err.println(s"[plandump] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
