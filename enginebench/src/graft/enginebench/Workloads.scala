package graft.enginebench

import graft.driver.MirrorJob
import graft.log.{ChangeLogGen, LogSpec}
import graft.maintenance.Compaction
import graft.merge.MergeEngine
import graft.model.{ChangeEvent, DataFileEntry, EpochManifest}
import graft.table.IceTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** State shared by one workload run: the session, the span recorder, the
  * run's temp root, the correctness tally and the measured-time budget. */
final class Run(val spark: SparkSession, val rec: Recorder, val root: String,
                val seed: Long, val seconds: Double) {
  val nLogPartitions = 32
  val numBuckets = 32
  val sizes = mutable.LinkedHashMap.empty[String, Any]
  val results = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Array[Long]]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** seconds spent inside measured operations so far */
  var measured = 0.0

  /** The bench key space: 500 repos x 400 paths, Zipf 1.2, 5% deletes,
    * 40-word content. */
  def spec(nEvents: Long): LogSpec =
    LogSpec(seed = seed, nEvents = nEvents, nRepos = 500, nPathsPerRepo = 400,
      zipfExponent = 1.2, pDelete = 0.05, contentWords = 40)

  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    val c = checks.getOrElseUpdate(name, Array(0L, 0L))
    if (ok) c(0) += 1
    else {
      c(1) += 1
      if (failures.size < 20) failures += s"$name: $detail"
    }
    ok
  }

  /** One measured operation: timed as a span of kind "op", counted as
    * attempted, and failed when it throws or `verify` rejects its result.
    * Verification runs after the span, outside the measured time. */
  def op[T](name: String)(f: Span => T)(verify: T => Boolean): Option[T] = {
    attempted += 1
    var span: Span = null
    val out =
      try Some(rec.span(name, "op") { s => span = s; f(s) })
      catch { case e: Exception =>
        failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
    if (span != null) measured += span.secs
    if (!out.exists(verify)) failed += 1
    out
  }

  def budgetLeft: Boolean = measured < seconds

  def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  def dirBytes(dir: String): Long = {
    val f = new java.io.File(dir)
    if (f.exists()) org.apache.commons.io.FileUtils.sizeOfDirectory(f) else 0L
  }

  def writeLog(nEvents: Long, dir: String): Unit =
    ChangeLogGen.writeLog(spark, spec(nEvents), dir)

  /** Log events with seq in `(lo, hi]`, read back from the binlog. */
  def slice(logDir: String, lo: Long, hi: Long)
      : org.apache.spark.sql.Dataset[ChangeEvent] = {
    import spark.implicits._
    spark.read.parquet(logDir)
      .filter(col("seq") > lo && col("seq") <= hi).as[ChangeEvent]
  }

  /** The fold's digest and live user bytes (one evaluation of the fold). */
  def foldFacts(logDir: String, hiSeq: Long): (Digest, Long) = {
    val f = Fold.live(spark, logDir, hiSeq).persist()
    try (Digest.ofTable(f), liveUserBytes(f)) finally f.unpersist()
  }

  /** Bytes of the user view (every column a reader sees) of live rows. */
  def liveUserBytes(df: DataFrame): Long =
    df.select(sum(octet_length(col("repo")) + octet_length(col("path")) +
      octet_length(col("commit")) + octet_length(col("lang")) +
      octet_length(col("content")))).head().getLong(0)

  /** Files a commit wrote (not in the parent) and carried (in both). */
  def fileDelta(parent: Option[EpochManifest], m: EpochManifest)
      : (Seq[DataFileEntry], Seq[DataFileEntry]) = {
    val before = parent.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    m.files.partition(f => !before(f.path))
  }

  /** `MergeEngine.applyEpoch` of log slice `(lo, hi]` as one span; `asOp`
    * makes it a measured operation, otherwise it runs as part of set-up or
    * warm-up (an enclosing span). Stats and file counts land on the span;
    * every epoch's counters must reconcile with the slice it was given. */
  def applyEpoch(table: IceTable, logDir: String, epochId: Long, lo: Long,
                 hi: Long, asOp: Boolean): Boolean = {
    val parent = table.currentManifest()
    val metaBefore = if (rec.traced) dirBytes(s"${table.dir}/meta") else 0L
    var span: Span = null
    def body(s: Span): MergeEngine.EpochOutcome = {
      span = s
      MergeEngine.applyEpoch(spark, table, slice(logDir, lo, hi), epochId,
        nLogPartitions, claimedRange = Some((lo, hi)))
    }
    val out =
      if (asOp) op("merge.applyEpoch")(body)(_ => true)
      else Some(rec.span("merge.applyEpoch", "setup")(body))
    out match {
      case None => false
      case Some(o) =>
        val st = o.stats
        val (written, carried) = fileDelta(parent, o.manifest)
        val a = span.attrs
        a("events") = (hi - lo).toDouble
        a("rows_extracted") = st.rowsExtracted.toDouble
        a("rows_applied") = st.rowsApplied.toDouble
        a("deletes_applied") = st.deletesApplied.toDouble
        a("dedup_drops") = st.dedupDrops.toDouble
        a("stale_drops") = st.staleDrops.toDouble
        a("files_written") = written.size.toDouble
        a("files_carried") = carried.size.toDouble
        a("bytes_written") = written.map(_.bytes).sum.toDouble
        a("rows_written") = written.map(_.rows).sum.toDouble
        if (rec.traced)
          a("metadata_bytes") =
            (dirBytes(s"${table.dir}/meta") - metaBefore).toDouble
        val accounted = st.rowsQuarantined + st.rowsApplied +
          st.deletesApplied + st.dedupDrops + st.staleDrops
        val ok = check("epoch_stats_reconcile",
          !o.skipped && st.rowsExtracted == hi - lo &&
            st.rowsExtracted == accounted && st.rowsQuarantined == 0,
          s"epoch $epochId ($lo,$hi]: skipped=${o.skipped} $st")
        if (asOp && !ok) failed += 1
        ok
    }
  }

  /** `MirrorJob.sync` to the upstream's current version, checked to land
    * exactly there. */
  def mirrorSync(up: IceTable, mirror: IceTable, asOp: Boolean): Boolean = {
    val target = up.currentVersion()
    var span: Span = null
    def body(s: Span): MirrorJob.MirrorOutcome = {
      span = s
      MirrorJob.sync(spark, up, mirror, nLogPartitions)
    }
    def verify(o: MirrorJob.MirrorOutcome): Boolean =
      check("mirror_reaches_target", o.toVersion == target,
        s"synced to ${o.toVersion}, upstream at $target")
    val out =
      if (asOp) op("mirror.sync")(body)(verify)
      else Some(rec.span("mirror.sync", "setup")(body)).filter(verify)
    out.foreach { o =>
      val st = o.stats
      span.attrs("rows_applied") =
        st.map(s => s.rowsApplied + s.deletesApplied).getOrElse(0L).toDouble
      span.attrs("full_sync") = if (o.fullSync) 1.0 else 0.0
    }
    out.isDefined
  }

  /** `Compaction.compact` then `IceTable.expireSnapshots`, as two spans. */
  def maintain(table: IceTable, keepLast: Int, asOp: Boolean): Unit = {
    val parent = table.currentManifest()
    var span: Span = null
    def compact(s: Span): Compaction.CompactionReport = {
      span = s
      val r = Compaction.compact(spark, table)
      s.attrs("tombstones_purged") = r.purgedTombstones.toDouble
      s.attrs("compacted_buckets") = r.compactedBuckets.toDouble
      r
    }
    def expire(s: Span): (Int, Int) = {
      val r = table.expireSnapshots(keepLast = keepLast,
        orphanSegGraceMillis = Long.MaxValue,
        orphanDataGraceMillis = Long.MaxValue)
      s.attrs("manifests_deleted") = r._1.toDouble
      s.attrs("files_deleted") = r._2.toDouble
      r
    }
    val compacted =
      if (asOp) op("maint.compact")(compact)(_ => true).isDefined
      else { rec.span("maint.compact", "setup")(compact); true }
    if (compacted) span.attrs("bytes_rewritten") =
      fileDelta(parent, table.currentManifest().get)._1.map(_.bytes).sum.toDouble
    if (asOp) op("maint.expire")(expire)(_ => true)
    else rec.span("maint.expire", "setup")(expire)
  }

  /** Gate: the table's user view must digest equal to the fold. */
  def checkTable(name: String, table: IceTable, expected: Digest): Boolean =
    rec.span(s"gate.$name", "gate") { _ =>
      val got = Digest.ofTable(table.read(spark))
      check(name, got == expected, s"table $got, fold $expected")
    }
}

/** A workload: `setup` builds its starting state (binlog, tables);
  * `warmup` runs the measured code paths untimed until the JIT and the
  * codegen cache settle; `measure` runs whole rounds of operations until
  * `run.seconds` of them have been timed; `gate` checks the end state
  * against the fold. Sizes are the workload's defaults times `scale`. */
abstract class Workload(scale: Double) {
  protected def sized(n: Long, min: Long = 1L): Long =
    math.max(min, math.round(n * scale))
  def sizes: Seq[(String, Any)]
  def setup(run: Run): Unit
  def warmup(run: Run): Unit
  def measure(run: Run): Unit
  def gate(run: Run): Unit
}

object Workload {
  def apply(name: String, scale: Double = 1.0): Workload = name match {
    case "backfill" => new Backfill(scale)
    case "trickle" => new Trickle(scale)
    case "serve" => new Serve(scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `n` equal seq slices `(lo, hi]` covering seqs `[from, from + total)` */
  def slices(from: Long, total: Long, n: Int): Seq[(Long, Long)] = {
    val per = total / n
    (0 until n).map { e =>
      val lo = from - 1 + e * per
      (lo, if (e == n - 1) from + total - 1 else lo + per)
    }
  }
}

/** Bulk ingest of a materialized log into a fresh table, in one epoch above
  * the engine's 1M-event AQE gate: dedup, the log scan and the parquet
  * write do the work; per-epoch fixed cost is a small share. */
final class Backfill(scale: Double) extends Workload(scale) {
  val LogEvents: Long = sized(1200000L, 1000L)
  def sizes = Seq("log_events" -> LogEvents)

  private var logDir: String = _

  def setup(run: Run): Unit = {
    logDir = s"${run.root}/binlog"
    run.rec.span("setup.log_write", "setup")(_ =>
      run.writeLog(LogEvents, logDir))
  }

  /** one backfill: a fresh table ingests the whole log */
  private def rep(run: Run, dir: String, asOp: Boolean): IceTable = {
    val t = IceTable.create(dir, run.numBuckets)
    run.applyEpoch(t, logDir, 0L, -1L, LogEvents - 1, asOp)
    t
  }

  def warmup(run: Run): Unit =
    run.rec.span("setup.warmup", "setup") { _ =>
      rep(run, s"${run.root}/warm", asOp = false)
      run.delete(s"${run.root}/warm")
    }

  def measure(run: Run): Unit = {
    val (expected, userBytes) = run.rec.span("gate.fold", "gate")(_ =>
      run.foldFacts(logDir, LogEvents - 1))
    val amps = mutable.ArrayBuffer.empty[Double]
    while (run.budgetLeft) {
      val dir = s"${run.root}/rep${amps.size}"
      val t = rep(run, dir, asOp = true)
      run.checkTable("table_matches_fold", t, expected)
      amps += run.dirBytes(dir).toDouble / userBytes
      run.delete(dir)
    }
    run.results("reps") = amps.size.toDouble
    run.results("space_amp") = amps.sorted.apply(amps.size / 2)
  }

  def gate(run: Run): Unit = ()
}

/** Small epochs into a preloaded table, each followed by a mirror sync,
  * with compaction and snapshot expiry once per round of epochs: per-epoch
  * fixed cost and copy-on-write rewrite of every touched bucket dominate. */
final class Trickle(scale: Double) extends Workload(scale) {
  val PreloadEvents: Long = sized(50000L, 1000L)
  val EpochEvents: Long = sized(5000L, 100L)
  /** epochs per measured round; each round ends with compaction + expiry */
  val RoundEpochs = 2
  val WarmupEpochs = 2
  val MaxRounds = 4
  val KeepLast = 2
  def sizes = Seq("preload_events" -> PreloadEvents,
    "epoch_events" -> EpochEvents, "round_epochs" -> RoundEpochs,
    "warmup_epochs" -> WarmupEpochs, "keep_last" -> KeepLast)

  private val logEvents =
    PreloadEvents + (WarmupEpochs + MaxRounds * RoundEpochs) * EpochEvents
  private var logDir: String = _
  private var up: IceTable = _
  private var mirror: IceTable = _
  private var nextEpoch = 1L
  private var hiSeq = -1L

  def setup(run: Run): Unit = {
    logDir = s"${run.root}/binlog"
    run.rec.span("setup.log_write", "setup")(_ =>
      run.writeLog(logEvents, logDir))
    run.rec.span("setup.preload", "setup") { _ =>
      up = IceTable.create(s"${run.root}/upstream", run.numBuckets)
      run.applyEpoch(up, logDir, 0L, -1L, PreloadEvents - 1, asOp = false)
      hiSeq = PreloadEvents - 1
      mirror = IceTable.create(s"${run.root}/mirror", run.numBuckets)
      run.mirrorSync(up, mirror, asOp = false)
    }
  }

  /** one step of the closed loop: an epoch, then a mirror sync */
  private def step(run: Run, asOp: Boolean): Unit = {
    require(hiSeq + EpochEvents < logEvents, "binlog exhausted")
    run.applyEpoch(up, logDir, nextEpoch, hiSeq, hiSeq + EpochEvents, asOp)
    hiSeq += EpochEvents
    nextEpoch += 1
    run.mirrorSync(up, mirror, asOp)
  }

  def warmup(run: Run): Unit =
    run.rec.span("setup.warmup", "setup") { _ =>
      (1 to WarmupEpochs).foreach(_ => step(run, asOp = false))
    }

  /** whole rounds: RoundEpochs steps, then compaction and expiry */
  def measure(run: Run): Unit = {
    var rounds = 0
    while (run.budgetLeft && rounds < MaxRounds) {
      (1 to RoundEpochs).foreach(_ => step(run, asOp = true))
      run.maintain(up, KeepLast, asOp = true)
      rounds += 1
    }
    run.results("rounds") = rounds.toDouble
  }

  def gate(run: Run): Unit = {
    val (fold, userBytes) = run.rec.span("gate.fold", "gate")(_ =>
      run.foldFacts(logDir, hiSeq))
    run.checkTable("table_matches_fold", up, fold)
    run.rec.span("gate.mirror", "gate") { _ =>
      // the last maintenance left the mirror one metadata-only commit behind
      run.mirrorSync(up, mirror, asOp = false)
      val m = Digest.ofTable(mirror.read(run.spark))
      val u = Digest.ofTable(up.read(run.spark))
      run.check("mirror_matches_upstream", m == u, s"mirror $m, upstream $u")
    }
    run.results("space_amp") = run.dirBytes(up.dir).toDouble / userBytes
  }
}

/** Single-client reads of a table with history: point lookups (Zipf-hot
  * present keys plus absent keys), adjacent-version change feeds and
  * full-snapshot aggregate scans. The merge is idle. */
final class Serve(scale: Double) extends Workload(scale) {
  val PreloadEvents: Long = sized(50000L, 1000L)
  val HistoryEpochs = 2
  val EpochEvents: Long = sized(5000L, 100L)
  val Keys = 256
  val AbsentFrac = 0.2
  val LookupsPerCycle = 4
  val WarmupCycles = 1
  def sizes = Seq("preload_events" -> PreloadEvents,
    "history_epochs" -> HistoryEpochs, "epoch_events" -> EpochEvents,
    "lookup_keys" -> Keys, "absent_frac" -> AbsentFrac,
    "lookups_per_cycle" -> LookupsPerCycle, "warmup_cycles" -> WarmupCycles)

  private val total = PreloadEvents + HistoryEpochs * EpochEvents
  private var logDir: String = _
  private var table: IceTable = _
  private var keys: IndexedSeq[(String, String)] = _
  private var expectLookup: Map[(String, String), Seq[String]] = _
  private var expectFeed: Map[Long, Digest] = _
  private var expectScan: Map[String, (Long, Long)] = _
  private var next = 0L
  private var cycles = 0

  def setup(run: Run): Unit = {
    logDir = s"${run.root}/binlog"
    run.rec.span("setup.log_write", "setup")(_ => run.writeLog(total, logDir))
    run.rec.span("setup.preload", "setup") { _ =>
      table = IceTable.create(s"${run.root}/table", run.numBuckets)
      run.applyEpoch(table, logDir, 0L, -1L, PreloadEvents - 1, asOp = false)
      Workload.slices(PreloadEvents, HistoryEpochs * EpochEvents,
        HistoryEpochs).zipWithIndex.foreach { case ((lo, hi), e) =>
        run.applyEpoch(table, logDir, e + 1L, lo, hi, asOp = false)
      }
    }
    run.check("history_versions", table.currentVersion() == HistoryEpochs,
      s"table at version ${table.currentVersion()}")
    keys = lookupKeys(run)
    prepareExpectations(run)
  }

  /** Seeded lookup keys: keys of events drawn at random log positions (so
    * Zipf-hot, present or deleted) and, at every `1 / AbsentFrac`-th
    * position, a key of a repo the generator never emits (absent by
    * construction). */
  private def lookupKeys(run: Run): IndexedSeq[(String, String)] = {
    val sp = run.spec(total)
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    val absentEvery = math.round(1 / AbsentFrac).toInt
    (0 until Keys).map { i =>
      val h = ChangeLogGen.mix64(run.seed * 0x9E3779B97F4A7C15L + i)
      if (i % absentEvery == absentEvery - 1) {
        val r = sp.nRepos + ((h >>> 20) % sp.nRepos).toInt
        (f"org${r % 10}%d/repo-$r%04d", f"src/dir${i % 8}%d/File${i % 400}%04d.py")
      } else {
        val e = ChangeLogGen.eventAt(sp, cdf, (h >>> 1) % total)
        (e.repo, e.path)
      }
    }
  }

  private val feedCols = Seq("change_type", "repo", "path", "commit", "lang",
    "content")

  private def feedRows(df: DataFrame): Seq[Seq[String]] =
    df.select(feedCols.map(col): _*).collect().toSeq
      .map(r => feedCols.indices.map(r.getString))

  /** Expected answers: lookups and the scan from the fold, every adjacent
    * feed from a diff of `readAt(v-1)` and `readAt(v)` (one query). */
  private def prepareExpectations(run: Run): Unit =
    run.rec.span("gate.prepare", "gate") { _ =>
      val spark = run.spark
      import spark.implicits._
      val fold = Fold.live(spark, logDir, total - 1).persist()
      expectLookup = fold.join(keys.distinct.toDF("repo", "path"),
        Seq("repo", "path"))
        .select("repo", "path", "commit", "lang", "content").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (0 until 5).map(r.getString)).toMap
      expectScan = Fold.langAggregate(fold)
      run.results("space_amp") =
        run.dirBytes(table.dir).toDouble / run.liveUserBytes(fold)
      val snaps = (0L to HistoryEpochs.toLong)
        .map(v => table.readAt(spark, v).withColumn("v", lit(v)))
        .reduce(_ union _)
      val o = snaps.filter(col("v") < HistoryEpochs)
        .withColumn("v", col("v") + 1).alias("o")
      val n = snaps.filter(col("v") > 0).alias("n")
      val j = o.join(n, Seq("repo", "path", "v"), "full_outer")
      def img(side: String) = Seq("commit", "lang", "content")
        .map(c => col(s"$side.$c").as(c))
      val changes = j.select(col("v") +: col("repo") +: col("path") +:
        when(col("o.commit").isNull, lit("insert"))
          .when(col("n.commit").isNull, lit("delete"))
          .when(col("o.content") =!= col("n.content") ||
            col("o.commit") =!= col("n.commit"), lit("update"))
          .as("change_type") +:
        Seq("commit", "lang", "content").map(c =>
          when(col("n.commit").isNull, col(s"o.$c"))
            .otherwise(col(s"n.$c")).as(c)): _*)
        .filter(col("change_type").isNotNull)
      val byVersion = changes.select(col("v") +: feedCols.map(col): _*)
        .collect().groupBy(_.getLong(0))
      expectFeed = (1L to HistoryEpochs.toLong).map { v =>
        v -> Digest.ofRows(byVersion.getOrElse(v, Array.empty).toSeq
          .map(r => feedCols.indices.map(i => r.getString(i + 1))))
      }.toMap
      fold.unpersist()
    }

  private def lookup(run: Run, asOp: Boolean): Unit = {
    val key @ (repo, path) = keys((next % Keys).toInt)
    next += 1
    def body(s: Span): Seq[Seq[String]] = {
      val rows = table.lookup(run.spark, repo, path)
        .select("repo", "path", "commit", "lang", "content").collect()
        .toSeq.map(r => (0 until 5).map(r.getString))
      s.attrs("rows") = rows.size.toDouble
      rows
    }
    def verify(rows: Seq[Seq[String]]): Boolean =
      run.check("lookup_matches_fold", rows == expectLookup.get(key).toSeq,
        s"lookup $key returned $rows")
    val span =
      if (asOp) { run.op("table.lookup")(body)(verify); run.rec.spans.last }
      else run.rec.span("table.lookup", "setup") { s => verify(body(s)); s }
    if (run.rec.traced) span.attrs("files_opened") = table.lookupFiles(
      run.spark, table.currentManifest().get, repo, path).size.toDouble
  }

  private def feed(run: Run, v: Long, asOp: Boolean): Unit = {
    def body(s: Span): Seq[Seq[String]] =
      feedRows(table.changesBetween(run.spark, v - 1, v))
    def verify(rows: Seq[Seq[String]]): Boolean = {
      val d = Digest.ofRows(rows)
      run.check("feed_matches_readAt_diff", d == expectFeed(v),
        s"feed v$v: $d, expected ${expectFeed(v)}")
    }
    val span =
      if (asOp) { run.op("table.feed")(body)(verify); run.rec.spans.last }
      else run.rec.span("table.feed", "setup") { s => verify(body(s)); s }
    if (run.rec.traced) {
      val (o, n) = (table.readManifest(v - 1), table.readManifest(v))
      val (op, np) = (o.files.map(_.path).toSet, n.files.map(_.path).toSet)
      span.attrs("files_read") = (o.files.count(f => !np(f.path)) +
        n.files.count(f => !op(f.path))).toDouble
    }
  }

  private def scan(run: Run, asOp: Boolean): Unit = {
    def body(s: Span): Map[String, (Long, Long)] =
      Fold.langAggregate(table.read(run.spark))
    def verify(agg: Map[String, (Long, Long)]): Boolean =
      run.check("scan_matches_fold", agg == expectScan,
        s"scan $agg, expected $expectScan")
    if (asOp) run.op("table.scan")(body)(verify)
    else run.rec.span("table.scan", "setup") { s => verify(body(s)) }
  }

  /** one round: a batch of lookups, one adjacent-version feed, one scan */
  private def cycle(run: Run, asOp: Boolean): Unit = {
    (1 to LookupsPerCycle).foreach(_ => lookup(run, asOp))
    feed(run, 1L + cycles % HistoryEpochs, asOp)
    scan(run, asOp)
    cycles += 1
  }

  def warmup(run: Run): Unit =
    run.rec.span("setup.warmup", "setup") { _ =>
      (1 to WarmupCycles).foreach(_ => cycle(run, asOp = false))
    }

  def measure(run: Run): Unit = {
    val first = cycles
    while (run.budgetLeft) cycle(run, asOp = true)
    run.results("rounds") = (cycles - first).toDouble
  }

  def gate(run: Run): Unit = ()
}
