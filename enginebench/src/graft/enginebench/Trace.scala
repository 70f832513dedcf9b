package graft.enginebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed region of the run: a set-up phase, a measured operation, or a
  * correctness check. `attrs` holds counts recorded at the same boundary
  * (rows applied, files written, file-system deltas when traced, ...). */
final class Span(val id: Int, val name: String, val kind: String,
                 val parent: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def secs: Double = (endMs - startMs) / 1000.0
  def toJson: String = Json.value(mutable.LinkedHashMap[String, Any](
    "id" -> id, "name" -> name, "kind" -> kind, "parent" -> parent,
    "start" -> startMs, "end" -> endMs, "attrs" -> attrs))
}

/** Records a span around every call the benchmark makes into the engine.
  * Spans are always timed (the end-to-end numbers come from them); when
  * `traced`, each span also tags the Spark jobs it submits (a local
  * property read back by [[JobRecorder]]) and snapshots the Hadoop
  * FileSystem statistics before and after. Everything stays in memory
  * until the run writes its record. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._

  private val baseNanos = System.nanoTime()
  private val baseMillis = System.currentTimeMillis().toDouble
  /** wall clock in ms with nanoTime resolution, comparable to listener times */
  def nowMs: Double = baseMillis + (System.nanoTime() - baseNanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val jobs: Option[JobRecorder] =
    if (traced) {
      val r = new JobRecorder
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None

  def span[T](name: String, kind: String)(f: Span => T): T = {
    val sc = spark.sparkContext
    val before = if (traced) fsStats() else Map.empty[String, Long]
    val prevProp = sc.getLocalProperty(SpanProp)
    val s = new Span(spans.size, name, kind,
      stack.headOption.map(_.id).getOrElse(-1), nowMs)
    spans += s
    stack = s :: stack
    if (traced) sc.setLocalProperty(SpanProp, s.id.toString)
    try f(s)
    finally {
      s.endMs = nowMs
      stack = stack.tail
      if (traced) {
        sc.setLocalProperty(SpanProp, prevProp)
        val after = fsStats()
        after.foreach { case (k, v) =>
          s.attrs("fs." + k) = (v - before.getOrElse(k, 0L)).toDouble
        }
      }
    }
  }

  def close(): Unit = jobs.foreach(spark.sparkContext.removeSparkListener)

  /** Block until the listener bus has delivered every event of the jobs run
    * so far: a marker job's end event arrives after all earlier events. */
  def drain(): Unit = jobs.foreach { r =>
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProp, MarkerSpan.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanProp, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!r.markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
    require(r.markerSeen, "listener bus did not drain within 60 s")
  }
}

object Recorder {
  val SpanProp = "enginebench.span"
  val MarkerSpan = -2

  /** Cumulative Hadoop FileSystem statistics of every scheme in this JVM
    * (Spark runs its tasks in-process in local mode, so task IO counts). */
  def fsStats(): Map[String, Long] = {
    val out = mutable.HashMap.empty[String, Long]
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .iterator()
    while (it.hasNext) {
      val st = it.next()
      val ls = st.getLongStatistics
      while (ls.hasNext) {
        val l = ls.next()
        out(l.getName) = out.getOrElse(l.getName, 0L) + l.getValue
      }
    }
    out.toMap
  }
}

/** Spark job and stage spans with task-metric sums, tagged with the
  * benchmark span that submitted them. */
final class JobRecorder extends SparkListener {
  import Recorder._

  final class JobRec(val id: Int, val span: Int, val start: Long) {
    var end: Long = -1L
  }
  final class StageRec(val id: Int, val span: Int, val submit: Long) {
    var complete: Long = -1L
    val sums: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
      "tasks" -> 0.0, "run_ms" -> 0.0, "cpu_ms" -> 0.0, "gc_ms" -> 0.0,
      "input_bytes" -> 0.0, "output_bytes" -> 0.0,
      "shuffle_read_bytes" -> 0.0, "shuffle_write_bytes" -> 0.0,
      "spill_bytes" -> 0.0)
  }

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  @volatile var markerSeen = false
  private val markerJobs = mutable.HashSet.empty[Int]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    if (s == MarkerSpan) markerJobs += e.jobId
    else jobs(e.jobId) = new JobRec(e.jobId, s, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs(e.jobId)) markerSeen = true
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = spanOf(e.properties)
      if (s != MarkerSpan) {
        val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stages(e.stageInfo.stageId) = new StageRec(e.stageInfo.stageId, s, t)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach(
        _.complete = e.stageInfo.completionTime
          .getOrElse(System.currentTimeMillis()))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (st <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = st.sums
      s("tasks") += 1
      s("run_ms") += m.executorRunTime
      s("cpu_ms") += m.executorCpuTime / 1e6
      s("gc_ms") += m.jvmGCTime
      s("input_bytes") += m.inputMetrics.bytesRead
      s("output_bytes") += m.outputMetrics.bytesWritten
      s("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      s("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      s("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobsJson: String = synchronized {
    jobs.values.map(j => Json.value(mutable.LinkedHashMap[String, Any](
      "id" -> j.id, "span" -> j.span, "start" -> j.start, "end" -> j.end)))
      .mkString("[", ",", "]")
  }

  def stagesJson: String = synchronized {
    stages.values.map(s => Json.value(mutable.LinkedHashMap[String, Any](
      "id" -> s.id, "span" -> s.span, "submit" -> s.submit,
      "complete" -> s.complete) ++ s.sums)).mkString("[", ",", "]")
  }
}
