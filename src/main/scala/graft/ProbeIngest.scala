package graft

import graft.driver.ReplayJob
import graft.table.IceTable
import org.apache.spark.sql.SparkSession

/**
 * Dev-only ingest-leg profiler. NOT a round artifact — `graft.Bench` stays
 * the frozen measurement contract; this main exists so the ingest legs'
 * per-epoch fixed cost can be phase-timed without touching Bench: it
 * registers the console metrics reporter, which prints every
 * `EpochCommitted` event with its per-stage wall times (`<stage>Ms` for
 * each of MergeEngine.Stages, plus writeJobMs / publishMs / footerStatsMs)
 * and the dedup mode it chose. Mirrors one scaling leg exactly: same
 * session confs, same warmup, same LogSpec workload, same epoch slicing.
 * Envs: SPARK_GRAFT_PROBE_CORES (8), SPARK_GRAFT_BENCH_EVENTS (16M),
 * SPARK_GRAFT_BENCH_EPOCHS (2), SPARK_GRAFT_PROBE_REPS (1).
 */
object ProbeIngest {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_PROBE_CORES", "8").toInt
    val nEvents =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_EVENTS", "16000000").toLong
    val nEpochs = sys.env.getOrElse("SPARK_GRAFT_BENCH_EPOCHS", "2").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "1").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-probe-ingest-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val spec = graft.log.LogSpec(nEvents = nEvents, nRepos = 500,
      nPathsPerRepo = 400,
      contentWords = sys.env.getOrElse("SPARK_GRAFT_BENCH_WORDS", "40").toInt)
    // warmup identical to Bench.warmup
    locally {
      val dir = java.nio.file.Files.createTempDirectory("graft-warm")
      try {
        val t = IceTable.create(s"$dir/table", numBuckets = 32)
        ReplayJob.replayGenerated(spark, t, spec.copy(nEvents = 200000),
          nEpochs = 1)
      } finally
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    graft.metrics.Metrics.addReporter(new graft.metrics.Metrics.ConsoleReporter)
    (1 to reps).foreach { rep =>
      val dir = java.nio.file.Files.createTempDirectory("graft-probe")
      try {
        val table = IceTable.create(s"$dir/table", numBuckets = 32)
        val t0 = System.nanoTime()
        ReplayJob.replayGenerated(spark, table, spec, nEpochs = nEpochs)
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(
          f"[probe-ingest] rep $rep%d: $secs%.3f s, " +
            f"${nEvents / secs}%.0f ev/s at local[$cores%d]")
      } finally
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    spark.stop()
  }
}
