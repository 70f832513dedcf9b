package graft.driver

import graft.log.{ChangeLogGen, LogSpec}
import graft.table.IceTable
import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry point for the ingest engine (the analog of the
 * reference's CLI job launcher, gobblin-runtime/.../cli — a `.pull` file
 * becomes flags here).
 *
 * Modes:
 *   replay  — fold a deterministic generated change log into an IceTable in
 *             E epochs (batch mode; ExecutionModel.BATCH analog)
 *   stream  — materialize the log as parquet then ingest it through the
 *             Structured Streaming runner (ExecutionModel.STREAMING analog)
 *
 * Usage:
 *   IngestMain replay <tableDir> <nEvents> <nEpochs> [master]
 *   IngestMain stream <tableDir> <logDir> <nEvents> [master]
 *   IngestMain job <specJson>          (declarative .pull-file analog)
 *   IngestMain maintain <tableDir> [keepLast] [maxAgeHours]
 *   IngestMain changes <tableDir> <fromVersion> <toVersion|current> [outDir]
 *   IngestMain mirror <upstreamDir> <mirrorDir> [toVersion|current] [nLogParts]
 *   IngestMain mirror-follow <upstreamDir> <mirrorDir> [pollMs] [maxIdlePolls] [nLogParts]
 *   IngestMain mirror-stream <upstreamDir> <mirrorDir> <ckptDir> [nLogParts] [maxVersionsPerTrigger]
 *   IngestMain rollback <tableDir> <version>   (hard; metadata-only)
 *   IngestMain revert <tableDir> <version> [nLogParts]  (CDC-consistent)
 */
object IngestMain {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("replay")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]")
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"graft-ingest-$mode")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // opt-in tracking-event emission (gobblin-metrics reporter analog):
    // SPARK_GRAFT_METRICS_DIR=<dir> appends one json line per lifecycle
    // event (epoch commit, compaction, retention) — see graft.metrics
    sys.env.get("SPARK_GRAFT_METRICS_DIR").foreach { d =>
      graft.metrics.Metrics.addReporter(
        new graft.metrics.Metrics.JsonLinesFileReporter(d,
          spark.sessionState.newHadoopConf()))
    }
    try mode match {
      case "replay" =>
        val Array(_, tableDir, nEvents, nEpochs) = args.take(4)
        val t = IceTable.create(tableDir)
        val spec = LogSpec(nEvents = nEvents.toLong)
        val t0 = System.nanoTime()
        val reports = ReplayJob.replayGenerated(spark, t, spec,
          nEpochs = nEpochs.toInt, stateDir = Some(s"$tableDir/state"))
        val secs = (System.nanoTime() - t0) / 1e9
        reports.foreach(r => println(
          s"epoch=${r.epochId} skipped=${r.skipped} stats=${r.stats}"))
        val rows = t.read(spark).count()
        println(f"mode=replay events=${nEvents.toLong} epochs=${nEpochs.toInt} " +
          f"secs=$secs%.2f events_per_sec=${nEvents.toLong / secs}%.0f " +
          f"final_rows=$rows version=${t.currentVersion()}")
      case "stream" =>
        val Array(_, tableDir, logDir, nEvents) = args.take(4)
        val t = IceTable.create(tableDir)
        ChangeLogGen.writeLog(spark, LogSpec(nEvents = nEvents.toLong), logDir)
        val t0 = System.nanoTime()
        val q = StreamingIngest.start(spark, logDir,
          s"$tableDir/checkpoint", t, stateDir = Some(s"$tableDir/state"))
        q.awaitTermination()
        val secs = (System.nanoTime() - t0) / 1e9
        val rows = t.read(spark).count()
        println(f"mode=stream events=${nEvents.toLong} secs=$secs%.2f " +
          f"events_per_sec=${nEvents.toLong / secs}%.0f final_rows=$rows " +
          f"version=${t.currentVersion()}")
      case "maintain" =>
        // maintenance pass (CompactionSource analog): verifier-gated compact
        // (tombstone purge at the safe horizon, one file per bucket) +
        // snapshot retention (count-based; combined with AGE when
        // maxAgeHours is given — the reference's policy-driven retention).
        val tableDir = args(1)
        val keepLast = args.lift(2).map(_.toInt).getOrElse(3)
        val olderThan = args.lift(3).map(_.toDouble)
          .map(h => System.currentTimeMillis() - (h * 3600 * 1000).toLong)
          .getOrElse(Long.MaxValue)
        val t = IceTable.create(tableDir)
        val rep = graft.maintenance.Compaction.compact(spark, t)
        val (ms, fs) = t.expireSnapshots(keepLast, olderThan)
        println(f"mode=maintain version=${rep.version}%d " +
          f"purged_tombstones=${rep.purgedTombstones}%d " +
          f"live_rows=${rep.liveRows}%d files=${rep.files}%d " +
          f"compacted_buckets=${rep.compactedBuckets}%d " +
          f"expired_manifests=$ms%d deleted_files=$fs%d")
      case "reprocess" =>
        // re-ingest quarantined rows under the CURRENT policies (the
        // work-unit-retry analog; see QuarantineReprocess). Survivors merge
        // into the table; still-bad rows re-quarantine under the new epoch.
        val Array(_, tableDir, epochIdS) = args.take(3)
        val t = IceTable.create(tableDir)
        val rep = graft.pipeline.QuarantineReprocess.run(spark, t,
          s"$tableDir/state/quarantine", epochIdS.toLong)
        println(f"mode=reprocess pending_epochs=${rep.consumedEpochs.size}%d " +
          f"rows_read=${rep.rowsRead}%d applied=${rep.applied}%d " +
          f"deletes=${rep.deletes}%d requarantined=${rep.requarantined}%d " +
          f"stale_drops=${rep.staleDrops}%d " +
          f"final_rows=${t.read(spark).count()}%d " +
          f"version=${t.currentVersion()}%d")
      case "rebucket" =>
        // layout migration: one verified snapshot in the new bucket count
        // (partition-spec-evolution analog; old snapshots keep the old
        // layout for time travel until retention expires them)
        val Array(_, tableDir, newBuckets) = args.take(3)
        val t = IceTable.create(tableDir)
        val rep = graft.maintenance.Rebucket.rebucket(spark, t,
          newBuckets.toInt)
        println(f"mode=rebucket version=${rep.version}%d " +
          f"old_buckets=${rep.oldNumBuckets}%d " +
          f"new_buckets=${rep.newNumBuckets}%d rows=${rep.rows}%d " +
          f"files=${rep.files}%d")
      case "changes" =>
        // version-diff change data feed: what a downstream consumer syncs
        // between two committed snapshots (insert/update/delete + image)
        val Array(_, tableDir, fromS, toS) = args.take(4)
        val t = IceTable.create(tableDir)
        val to = if (toS == "current") t.currentVersion() else toS.toLong
        val ch = t.changesBetween(spark, fromS.toLong, to)
        // optional 5th arg: write the feed as parquet instead of counting
        args.lift(4) match {
          case Some(out) =>
            ch.write.mode("overwrite").parquet(out)
            val n = spark.read.parquet(out)
              .groupBy("change_type").count().collect()
              .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
            println(s"mode=changes from=$fromS to=$to out=$out " +
              s"counts=${n.mkString(",")}")
          case None =>
            val n = ch.groupBy("change_type").count().collect()
              .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
            println(s"mode=changes from=$fromS to=$to " +
              s"counts=${n.mkString(",")}")
        }
      case "mirror" =>
        // replicate a published table into a downstream replica by copying
        // its data files (Iceberg-copy analog; MirrorJob scaladoc).
        // Usage: mirror <upstreamDir> <mirrorDir> [toVersion|current]
        //   [nLogParts]
        val Array(_, upDir, mirDir) = args.take(3)
        val up = IceTable.create(upDir)
        val nlp = args.lift(4).map(_.toInt).getOrElse(32)
        val to = args.lift(3).filterNot(_ == "current").map(_.toLong)
        val mir = IceTable.create(mirDir, numBuckets = up.numBuckets)
        val o = MirrorJob.sync(spark, up, mir, nLogPartitions = nlp,
          toVersion = to)
        println(s"mode=mirror from=${o.fromVersion} to=${o.toVersion} " +
          s"mirror_version=${o.mirrorVersion} full_sync=${o.fullSync} " +
          s"rows=${mir.read(spark).count()}")
      case "mirror-follow" =>
        // continuous replication: poll-and-sync until the upstream goes
        // idle for maxIdlePolls polls (MirrorJob.follow scaladoc).
        // Usage: mirror-follow <upstreamDir> <mirrorDir> [pollMs]
        //   [maxIdlePolls] [nLogParts]
        val Array(_, upDir, mirDir) = args.take(3)
        val up = IceTable.create(upDir)
        val mir = IceTable.create(mirDir, numBuckets = up.numBuckets)
        val outs = MirrorJob.follow(spark, up, mir,
          nLogPartitions = args.lift(5).map(_.toInt).getOrElse(32),
          pollMs = args.lift(3).map(_.toLong).getOrElse(1000L),
          maxIdlePolls = args.lift(4).map(_.toInt).getOrElse(3))
        println(s"mode=mirror-follow syncs=${outs.size} " +
          s"to=${outs.lastOption.map(_.toVersion).getOrElse(-1L)} " +
          s"rows=${mir.read(spark).count()}")
      case "mirror-stream" =>
        // Structured-Streaming replication (MirrorJob.followStream): each
        // batch of the upstream's .changes feed syncs the mirror to the
        // batch's end version, with checkpoints and admission control;
        // AvailableNow = drain-to-now then exit.
        // Usage: mirror-stream <upstreamDir> <mirrorDir> <checkpointDir>
        //   [nLogParts] [maxVersionsPerTrigger]
        val Array(_, upDir, mirDir, ckpt) = args.take(4)
        val up = IceTable.create(upDir)
        val mir = IceTable.create(mirDir, numBuckets = up.numBuckets)
        val nlp = args.lift(4).map(_.toInt).getOrElse(32)
        val catDir = s"$mirDir/feedcat"
        graft.table.GraftCatalog.create(catDir)
          .register("upstream", up.dir, up.numBuckets)
        spark.conf.set("spark.sql.catalog.graftfeed",
          "graft.table.GraftSparkCatalog")
        spark.conf.set("spark.sql.catalog.graftfeed.dir", catDir)
        val q = MirrorJob.followStream(spark, "graftfeed.upstream.changes",
          up, mir, ckpt, nLogPartitions = nlp,
          options = args.lift(5)
            .map(v => Map("maxVersionsPerTrigger" -> v)).getOrElse(Map.empty))
        q.awaitTermination()
        println(s"mode=mirror-stream " +
          s"sync_point=${mir.currentManifest().map(_.epochId).getOrElse(-1L)} " +
          s"rows=${mir.read(spark).count()} version=${mir.currentVersion()}")
      case "rollback" =>
        // HARD snapshot rollback (metadata-only; feeds/mirrors must be
        // rebuilt — see IceTable.rollbackTo). Usage: rollback <dir> <v>
        val Array(_, tableDir, vS) = args.take(3)
        val t = IceTable.create(tableDir)
        val m = t.rollbackTo(vS.toLong)
        println(s"mode=rollback to=${vS.toLong} new_version=${m.version} " +
          s"rows=${t.read(spark).count()}")
      case "revert" =>
        // CDC-consistent rollback: compensating epoch downstream consumers
        // follow normally (maintenance.Revert). Usage: revert <dir> <v>
        //   [nLogParts]
        val Array(_, tableDir, vS) = args.take(3)
        val t = IceTable.create(tableDir)
        val out = graft.maintenance.Revert.revertTo(spark, t, vS.toLong,
          nLogPartitions = args.lift(3).map(_.toInt).getOrElse(32))
        println(s"mode=revert to=${vS.toLong} skipped=${out.skipped} " +
          s"stats=${out.stats} rows=${t.read(spark).count()} " +
          s"version=${t.currentVersion()}")
      case "job" =>
        // config-driven job assembly (.pull-file analog): a JSON spec
        // wiring source → converters → policies → table → catalog,
        // executed through the same engine calls code would make
        // (JobSpecRunner scaladoc documents the spec shape).
        val rep = JobSpecRunner.runFile(spark, args(1))
        rep.epochs.foreach(r => println(
          s"epoch=${r.epochId} skipped=${r.skipped} stats=${r.stats}"))
        println(s"mode=job name=${rep.name} epochs=${rep.epochs.size} " +
          s"final_rows=${rep.finalRows} version=${rep.version}")
      case "history" =>
        // snapshot history (time-travel / retention planning surface)
        val t = IceTable.create(args(1))
        val hist = t.history() // one manifest pass for rows AND count
        hist.foreach(s => println(
          f"version=${s.version}%d epoch=${s.epochId}%d " +
            f"commit_ms=${s.commitTimeMillis}%d buckets=${s.numBuckets}%d " +
            f"files=${s.files}%d bytes=${s.bytes}%d " +
            f"rows_applied=${s.rowsApplied}%d " +
            f"complete_until=${s.completeUntilSeq}%d"))
        println(s"mode=history versions=${hist.size}")
      case "replay-budgeted" =>
        // rate-controlled admission: a small probe epoch measures ingest
        // rate, then each epoch is sized so its expected duration fits the
        // wall-time budget (the flush-interval analog); the ingestion
        // health check runs on the accumulated per-epoch metrics.
        val Array(_, tableDir, nEventsS, targetSecsS) = args.take(4)
        val nEvents = nEventsS.toLong
        val target = targetSecsS.toDouble
        // optional: the upstream produce rate (events/sec) enables the
        // backlog health signal; batch replays have no producer (0 = off)
        val produceRate = args.lift(4).map(_.toDouble).getOrElse(0.0)
        val t = IceTable.create(tableDir)
        val spec = LogSpec(nEvents = nEvents)
        import spark.implicits._
        val cdf = ChangeLogGen.zipfCdf(spec.nRepos, spec.zipfExponent)
        def slice(lo: Long, hi: Long) = spark.range(lo + 1, hi + 1)
          .map(s => ChangeLogGen.eventAt(spec, cdf, s))
        val tracker = new RateControl.ProduceRateTracker()
        val history = scala.collection.mutable.ArrayBuffer
          .empty[RateControl.EpochHealth]
        val top = nEvents - 1
        val probe = math.max(1L, math.min(nEvents / 10, 1000000L))
        var lo = -1L
        var epochId = 0L
        while (lo < top) {
          val planned =
            if (tracker.totalRate <= 0) probe
            else math.max(1L, (tracker.totalRate * target).toLong)
          val hi = math.min(top, lo + planned)
          val t0 = System.nanoTime()
          val out = graft.merge.MergeEngine.applyEpoch(spark, t,
            slice(lo, hi), epochId, claimedRange = Some((lo, hi)))
          val secs = (System.nanoTime() - t0) / 1e9
          // fenced (skipped) epochs finish in scan-only time: feeding them
          // into EITHER signal would inflate the EWMA (oversizing epochs)
          // or inject bogus fast/clean health rows that mask a real
          // unhealthy stretch for up to `window` epochs
          if (!out.skipped) {
            tracker.update(0, hi - lo, secs)
            val st = out.stats
            history += RateControl.EpochHealth(epochId, (hi - lo) / secs,
              watermarkLagSpread =
                graft.merge.MergeEngine.lagSpread(out.manifest.offsets),
              quarantineRate = if (st.rowsExtracted > 0)
                st.rowsQuarantined.toDouble / st.rowsExtracted else 0.0)
          }
          val health = RateControl.check(history.toSeq, produceRate)
          println(f"epoch=$epochId%d range=($lo%d,$hi%d] secs=$secs%.2f " +
            f"planned_by=${if (epochId == 0) "probe" else "budget"}%s " +
            f"skipped=${out.skipped}%s healthy=${health.healthy}%s" +
            (if (health.reasons.nonEmpty)
               health.reasons.mkString(" reasons=[", "; ", "]") else ""))
          lo = hi
          epochId += 1
        }
        println(f"mode=replay-budgeted events=$nEvents%d epochs=$epochId%d " +
          f"rate_ewma=${tracker.totalRate}%.0f " +
          f"final_rows=${t.read(spark).count()}%d version=${t.currentVersion()}%d")
      case other =>
        System.err.println(s"unknown mode '$other'; use " +
          "replay|stream|replay-budgeted|job|maintain|reprocess|rebucket|" +
          "history|changes|mirror|mirror-follow|mirror-stream|rollback|" +
          "revert")
        sys.exit(2)
    } finally {
      graft.metrics.Metrics.clearReporters() // flush/close event files
      spark.stop()
    }
  }
}
