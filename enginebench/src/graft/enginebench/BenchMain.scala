package graft.enginebench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in one JVM: builds a session sized from the host,
  * runs a workload's set-up, warm-up, measured loop and correctness gate,
  * and writes every span, Spark job, check and host fact as one JSON record.
  * The metrics are computed from that record by `enginebench/run.py`.
  *
  * Usage: BenchMain --workload NAME --seed N --seconds S --trace 0|1
  *                  --root DIR --out FILE
  */
object BenchMain {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val spark = session(opt("root"), opt("workload"))
    try {
      val record = execute(spark, opt("workload"), opt("seed").toLong,
        opt("seconds").toDouble, opt("trace") == "1", opt("root"), scale = 1.0)
      Files.write(Paths.get(opt("out")),
        record.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** A local session with one task thread per CPU, its scratch space under
    * `root`. */
  def session(root: String, name: String): SparkSession = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"enginebench-$name")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run one workload end to end; returns the run record as JSON. */
  def execute(spark: SparkSession, name: String, seed: Long, seconds: Double,
              traced: Boolean, root: String, scale: Double): String = {
    val workload = Workload(name, scale)
    val rec = new Recorder(spark, traced)
    val run = new Run(spark, rec, root, seed, seconds)
    workload.sizes.foreach { case (k, v) => run.sizes(k) = v }
    try {
      workload.setup(run)
      workload.warmup(run)
      workload.measure(run)
      workload.gate(run)
      rec.drain()
    } finally rec.close()
    val record = mutable.LinkedHashMap[String, Any](
      "run_id" -> java.util.UUID.randomUUID().toString,
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "scale" -> scale,
      "host" -> hostFacts(spark), "sizes" -> run.sizes,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "checks" -> run.checks.map { case (k, c) =>
        k -> mutable.LinkedHashMap("pass" -> c(0), "fail" -> c(1)) },
      "failures" -> run.failures, "results" -> run.results,
      "measured_s" -> run.measured, "peak_rss_mb" -> peakRssMb())
    Json.value(record).dropRight(1) +
      ",\"spans\":" + rec.spans.map(_.toJson).mkString("[", ",", "]") +
      ",\"jobs\":" + rec.jobs.map(_.jobsJson).getOrElse("[]") +
      ",\"stages\":" + rec.jobs.map(_.stagesJson).getOrElse("[]") + "}"
  }

  private def hostFacts(spark: SparkSession)
      : mutable.LinkedHashMap[String, Any] = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val memKb = scala.util.Try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("MemTotal:")).get.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    mutable.LinkedHashMap("nproc" -> nproc, "mem_total_kb" -> memKb,
      "master" -> spark.sparkContext.master, "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> System.getProperty("java.vm.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20))
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(-1.0)
}
