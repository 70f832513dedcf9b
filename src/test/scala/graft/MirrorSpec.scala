package graft

import graft.driver.MirrorJob
import graft.maintenance.{Compaction, Rebucket}
import graft.merge.{Intervals, MergeEngine}
import graft.model.ChangeEvent
import graft.table.IceTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * Table mirroring by file copy (MirrorJob.sync): state, offset and
 * sync-point convergence, which files a sync copies, no Spark job per
 * sync, crash points of copy-then-commit, schema evolution and rebucketing
 * upstream, and the poll and Structured-Streaming followers.
 */
class MirrorSpec extends SparkSpec {
  import spark.implicits._

  private val N = 2 // log partitions in these fixtures

  private def ev(op: String, seq: Long, repo: String, path: String,
                 content: String): ChangeEvent =
    ChangeEvent(op, seq, repo, path, "c" * 40, "scala", content)

  private def apply(t: IceTable, epoch: Long, lo: Long, hi: Long,
                    evs: ChangeEvent*): Unit = {
    MergeEngine.applyEpoch(spark, t, evs.toDS(), epoch, nLogPartitions = N,
      claimedRange = Some((lo, hi)))
    ()
  }

  private def sync(up: IceTable, mir: IceTable): MirrorJob.MirrorOutcome =
    MirrorJob.sync(spark, up, mir, nLogPartitions = N)

  /** canonical raw state: payload + lastSeq + tombstone flag per key */
  private def state(t: IceTable): Set[(String, String, String, Long, Boolean)] =
    t.readRaw(spark)
      .select(col("repo"), col("path"),
        coalesce(col("content"), lit("")).as("content"),
        col("lastSeq"), coalesce(col("deleted"), lit(false)).as("deleted"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getBoolean(4))).toSet

  private def offsets(t: IceTable): Map[Int, Seq[(Long, Long)]] =
    MergeEngine.committedIntervals(t.currentManifest())
      .map { case (p, ivs) => p -> Intervals.normalize(ivs) }
      .filter(_._2.nonEmpty)

  private def assertConverged(up: IceTable, mir: IceTable): Unit = {
    assert(state(mir) == state(up), "mirror state must equal upstream")
    assert(offsets(mir) == offsets(up),
      "mirror committed offsets must equal upstream")
    assert(mir.currentManifest().get.epochId == up.currentVersion(),
      "mirror must record the upstream sync point")
  }

  /** `bucket=<b>/<name>` of a data file: unique in a table (one write
    * task's files share a name across buckets) */
  private def relPath(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    s"${p.getParent.getName}/${p.getName}"
  }

  /** data files (`bucket=<b>/<name>`) a table's current snapshot lists */
  private def names(t: IceTable): Set[String] =
    t.currentManifest().toSeq.flatMap(_.files).map(f => relPath(f.path)).toSet

  /** `body`'s result and the file names the mirror lists after it but did
    * not list before: the files the sync copied */
  private def copiedBy[T](mir: IceTable)(body: => T): (T, Set[String]) = {
    val before = names(mir)
    val out = body
    (out, names(mir) -- before)
  }

  /** `body`'s result and the Spark jobs started while it ran (the bus is
    * drained on both sides, so every job start has been delivered). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    assert(GraftSqlBridge.drainListenerBus(spark, 10000L))
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      assert(GraftSqlBridge.drainListenerBus(spark, 10000L))
      (result, started.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `body` with catalog `cat` serving `up` as `<cat>.commits` */
  private def withFeedCatalog[T](cat: String, up: IceTable)(body: => T): T = {
    val catDir = tmpDir(s"$cat-cat")
    graft.table.GraftCatalog.create(catDir).register("commits", up.dir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.table.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.dir", catDir)
    try body
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.dir")
    }
  }

  test("followStream: a Structured-Streaming follower applies feed " +
      "batches incrementally, resumes from its checkpoint across " +
      "restarts, and handles purged-in-window deletes") {
    val ckpt = tmpDir("mirs-ckpt")
    val up = IceTable.create(tmpDir("mirs-up"), numBuckets = 2)
    val mir = IceTable.create(tmpDir("mirs-m"), numBuckets = 2)
    // origin-anchored claims so the later tombstone purge actually fires
    apply(up, 0, -1, 3,
      ev("i", 1, "r0", "a", "A1"),
      ev("i", 2, "r0", "b", "B1"),
      ev("i", 3, "r1", "c", "C1"))
    apply(up, 1, 3, 5,
      ev("u", 4, "r0", "a", "A2"),
      ev("i", 5, "r2", "d", "D1"))
    withFeedCatalog("mirs", up) {
      def userView(t: IceTable) = t.read(spark).collect().toSet
      def drain(opts: Map[String, String]): Unit = {
        val q = MirrorJob.followStream(spark, "mirs.commits.changes", up,
          mir, ckpt, nLogPartitions = N, options = opts)
        q.awaitTermination()
      }
      // backlog drains under admission control (one version per batch);
      // each batch syncs the mirror to the version it ends at
      drain(Map("maxVersionsPerTrigger" -> "1"))
      assert(userView(mir) == userView(up))
      assert(offsets(mir) == offsets(up))
      assert(mir.currentManifest().get.epochId == up.currentVersion(),
        "last data batch records the upstream version as the sync point")
      // upstream moves while the follower is DOWN: a delete whose
      // tombstone is then compaction-purged — the restart's single batch
      // spans both commits and its sync copies the purged state
      apply(up, 2, 5, 6, ev("d", 6, "r0", "b", ""))
      Compaction.compact(spark, up)
      assert(up.currentManifest().get.purgedBelowSeq >= 6L,
        "fixture must actually purge the tombstone")
      drain(Map.empty)
      assert(userView(mir) == userView(up),
        "purged-in-window delete must land on the streaming mirror")
      assertConverged(up, mir)
      // CHECKPOINT LOSS: the whole feed redelivers from the origin; every
      // redelivered batch ends at or below the sync point, so the mirror
      // commits nothing new
      val vMirBefore = mir.currentVersion()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      drain(Map.empty)
      assert(mir.currentVersion() == vMirBefore,
        "a full feed redelivery after checkpoint loss must be a no-op " +
          "(no new mirror commits)")
      assert(userView(mir) == userView(up))
      // live follower: mid-stream upstream commits land incrementally
      val q = MirrorJob.followStream(spark, "mirs.commits.changes", up,
        mir, ckpt, nLogPartitions = N,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
      try {
        apply(up, 3, 6, 7, ev("u", 7, "r1", "c", "C2"))
        q.processAllAvailable()
        assert(userView(mir) == userView(up))
        assert(offsets(mir) == offsets(up))
        apply(up, 4, 7, 8, ev("i", 8, "r3", "e", "E1"))
        q.processAllAvailable()
        assert(userView(mir) == userView(up))
        assert(mir.currentManifest().get.epochId == up.currentVersion())
      } finally q.stop()
    }
  }

  test("a diverged or restored mirror under a reused checkpoint converges") {
    val ckpt = tmpDir("fbv-ckpt")
    val up = IceTable.create(tmpDir("fbv-up"), numBuckets = 2)
    val mirDir = tmpDir("fbv-m")
    val mir = IceTable.create(mirDir, numBuckets = 2)
    apply(up, 0, -1, 2, ev("i", 1, "r0", "a", "A1"), ev("i", 2, "r0", "b", "B1"))
    withFeedCatalog("fbv", up) {
      def drain(): Unit = MirrorJob.followStream(spark, "fbv.commits.changes",
        up, mir, ckpt, nLogPartitions = N).awaitTermination()
      drain()
      assertConverged(up, mir)
      val backup = tmpDir("fbv-backup")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(mirDir),
        new java.io.File(backup))
      val vBackup = mir.currentVersion()
      apply(up, 1, 2, 4, ev("u", 3, "r0", "a", "A2"), ev("i", 4, "r1", "c", "C1"))
      drain()
      assertConverged(up, mir)
      // RESTORE FROM BACKUP under the reused checkpoint: the mirror is back
      // at upstream version 0's state while the stream is past it; the
      // next batch syncs it whole to the batch's end version
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(mirDir))
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(backup),
        new java.io.File(mirDir))
      assert(mir.currentVersion() == vBackup &&
        mir.currentManifest().get.epochId == 0L)
      apply(up, 2, 4, 5, ev("d", 5, "r0", "b", ""))
      drain()
      assertConverged(up, mir)
      // DIVERGED: the manifest records the current sync point over version
      // 0's files and offsets; the next batch converges it too
      val pm = mir.currentManifest().get
      mir.commit(mir.readManifest(vBackup).copy(version = pm.version + 1,
        parentVersion = pm.version, epochId = up.currentVersion()))
      assert(state(mir) != state(up), "fixture must diverge")
      apply(up, 3, 5, 6, ev("i", 6, "r2", "d", "D1"))
      drain()
      assertConverged(up, mir)
    }
  }

  test("bootstrap + incremental sync converge state, offsets, and sync " +
      "point; re-sync is a no-op") {
    val up = IceTable.create(tmpDir("mir1-up"), numBuckets = 4)
    val mir = IceTable.create(tmpDir("mir1-m"), numBuckets = 4)
    apply(up, 0, 0, 3,
      ev("i", 1, "r0", "a", "A1"),
      ev("i", 2, "r0", "b", "B1"),
      ev("i", 3, "r1", "c", "C1"))
    val (o1, boot) = copiedBy(mir)(sync(up, mir))
    assert(o1.fullSync && o1.fromVersion == -1L, "first sync bootstraps")
    assert(boot == names(up), "a bootstrap copies every upstream file")
    assertConverged(up, mir)

    val upBefore = names(up)
    apply(up, 1, 3, 6,
      ev("u", 4, "r0", "a", "A2"),
      ev("d", 5, "r0", "b", ""),
      ev("i", 6, "r2", "d", "D1"))
    val (o2, inc) = copiedBy(mir)(sync(up, mir))
    assert(!o2.fullSync && o2.fromVersion == o1.toVersion,
      "second sync must be incremental")
    // incremental: only the files the upstream epoch wrote are copied
    assert(inc.nonEmpty && inc == names(up) -- upBefore,
      s"copied $inc, upstream epoch wrote ${names(up) -- upBefore}")
    assertConverged(up, mir)

    val before = mir.currentVersion()
    val o3 = sync(up, mir)
    assert(o3.stats.isEmpty && o3.mirrorVersion == before &&
      mir.currentVersion() == before, "at-target sync must be a no-op")
  }

  test("delete whose tombstone purged inside the sync window still " +
      "deletes on the mirror (substituted seq from the claim delta)") {
    val up = IceTable.create(tmpDir("mir3-up"), numBuckets = 2)
    val mir = IceTable.create(tmpDir("mir3-m"), numBuckets = 2)
    apply(up, 0, -1, 2, // origin-anchored claim: the purge horizon advances
      ev("i", 1, "k0", "a", "A"),
      ev("i", 2, "k1", "b", "B"))
    sync(up, mir)
    // delete inside a contiguous claim, then compact: tombstone purges
    // below the safe horizon
    apply(up, 1, 2, 4,
      ev("d", 3, "k0", "a", ""),
      ev("u", 4, "k1", "b", "B2"))
    Compaction.compact(spark, up)
    assert(!state(up).exists(r => r._1 == "k0" && r._5),
      "precondition: upstream tombstone must be purged by compaction")
    val o = sync(up, mir)
    assert(!o.fullSync, "purged tombstone must not force a full resync")
    // the mirror holds the upstream's files: the raw states match at once
    assert(state(mir) == state(up), "raw states match right after the sync")
    assert(!state(mir).exists(_._1 == "k0"),
      "mirror must drop the key whose tombstone purged in-window")
    assert(offsets(mir) == offsets(up))
    assert(mir.currentManifest().get.purgedBelowSeq ==
      up.currentManifest().get.purgedBelowSeq,
      "the mirror takes the upstream's purge mark")
  }

  test("clobbered sync point (mirror compaction) falls back to full " +
      "resync, heals, and returns to incremental syncs") {
    val up = IceTable.create(tmpDir("mir4-up"), numBuckets = 2)
    val mir = IceTable.create(tmpDir("mir4-m"), numBuckets = 2)
    apply(up, 0, 0, 2,
      ev("i", 1, "r0", "a", "A"),
      ev("i", 2, "r1", "b", "B"))
    sync(up, mir)
    Compaction.compact(spark, mir) // rewrites the mirror's files, epochId
    apply(up, 1, 2, 4,
      ev("u", 3, "r0", "a", "A2"),
      ev("d", 4, "r1", "b", ""))
    val (o, copied) = copiedBy(mir)(sync(up, mir))
    assert(!o.fullSync, "the mirror had a snapshot")
    assert(copied == names(up),
      "a compacted mirror holds no upstream file: every file is re-copied")
    assertConverged(up, mir)
    val upBefore = names(up)
    apply(up, 2, 4, 5, ev("i", 5, "r2", "c", "C"))
    val (o2, copied2) = copiedBy(mir)(sync(up, mir))
    assert(!o2.fullSync && copied2 == names(up) -- upBefore,
      "after healing, syncs copy only what the upstream wrote")
    assertConverged(up, mir)
  }

  test("mirror chain: a mirror is a first-class upstream — A→B→C " +
      "converges through two hops, incrementally") {
    val a = IceTable.create(tmpDir("mir6-a"), numBuckets = 2)
    val b = IceTable.create(tmpDir("mir6-b"), numBuckets = 2)
    val c = IceTable.create(tmpDir("mir6-c"), numBuckets = 2)
    apply(a, 0, 0, 2,
      ev("i", 1, "r0", "a", "A"),
      ev("i", 2, "r1", "b", "B"))
    sync(a, b)
    sync(b, c)
    assertConverged(a, b)
    assertConverged(b, c)
    val aBefore = names(a)
    apply(a, 1, 2, 4,
      ev("u", 3, "r0", "a", "A2"),
      ev("d", 4, "r1", "b", ""))
    assert(!sync(a, b).fullSync)
    val (o, copied) = copiedBy(c)(sync(b, c))
    assert(!o.fullSync, "second hop must stay incremental")
    assert(copied == names(a) -- aBefore,
      "each hop copies only the files the origin epoch wrote")
    assertConverged(b, c)
    assert(state(c) == state(a), "two-hop replica equals the origin")
    assert(offsets(c) == offsets(a),
      "offset state propagates through the chain unchanged")
  }

  test("follow: catches up on backlog, goes idle, and resumes when the " +
      "upstream moves — including under a concurrent upstream writer") {
    val up = IceTable.create(tmpDir("mir7-up"), numBuckets = 2)
    val mir = IceTable.create(tmpDir("mir7-m"), numBuckets = 2)
    // empty upstream: pure idle polls, no syncs, no mirror commits
    assert(MirrorJob.follow(spark, up, mir, nLogPartitions = N,
      pollMs = 1L, maxIdlePolls = 2).isEmpty)
    assert(mir.currentVersion() == -1L)
    // backlog of two epochs: one catch-up sync, then idle
    apply(up, 0, 0, 2, ev("i", 1, "r0", "a", "A"))
    apply(up, 1, 2, 4, ev("u", 3, "r0", "a", "A2"),
      ev("i", 4, "r1", "b", "B"))
    val outs1 = MirrorJob.follow(spark, up, mir, nLogPartitions = N,
      pollMs = 1L, maxIdlePolls = 2)
    assert(outs1.size == 1 && outs1.head.fullSync, "backlog = one bootstrap")
    assertConverged(up, mir)
    // concurrent writer: epochs land WHILE the follower polls; every one
    // must be picked up incrementally before the idle budget runs out
    val writer = new Thread(() => {
      (2 to 4).foreach { e =>
        Thread.sleep(150L)
        apply(up, e, 2L * e, 2L * e + 2,
          ev("i", 2L * e + 1, s"r$e", "f", s"C$e"))
      }
    })
    writer.start()
    try {
      // idle budget 5 s (100 × 50 ms): must outlast the writer's commit
      // latency so the follower never gives up between concurrent epochs
      val outs2 = MirrorJob.follow(spark, up, mir, nLogPartitions = N,
        pollMs = 50L, maxIdlePolls = 100)
      assert(outs2.nonEmpty && outs2.forall(!_.fullSync),
        s"concurrent epochs must sync incrementally, got $outs2")
    } finally writer.join()
    assertConverged(up, mir)
    assert(state(mir).count(_._3.startsWith("C")) == 3,
      "all concurrently written epochs must reach the mirror")
  }

  test("upstream retention expiring the recorded sync point costs no " +
      "resync: the sync copies only the files the mirror lacks") {
    val up = IceTable.create(tmpDir("mir9-up"), numBuckets = 2)
    val mir = IceTable.create(tmpDir("mir9-m"), numBuckets = 2)
    apply(up, 0, 0, 2, ev("i", 1, "r0", "a", "A"))
    sync(up, mir)
    val held = names(mir)
    apply(up, 1, 2, 3, ev("u", 3, "r0", "a", "A2"))
    apply(up, 2, 3, 4, ev("i", 4, "r1", "b", "B"))
    up.expireSnapshots(keepLast = 1)
    intercept[java.io.FileNotFoundException] { up.readManifest(0L) }
    val (o, copied) = copiedBy(mir)(sync(up, mir))
    assert(!o.fullSync && o.fromVersion == 0L)
    assert(copied == names(up) -- held,
      "files the mirror already holds are reused, not re-copied")
    assertConverged(up, mir)
    apply(up, 3, 4, 5, ev("i", 5, "r2", "c", "C"))
    assert(!sync(up, mir).fullSync)
    assertConverged(up, mir)
  }

  test("upstream schema evolution tracks onto the mirror; metadata-only " +
      "upstream movement stamps the sync point without reading data") {
    val up = IceTable.create(tmpDir("mir5-up"), numBuckets = 2)
    val mir = IceTable.create(tmpDir("mir5-m"), numBuckets = 2)
    apply(up, 0, 0, 2,
      ev("i", 1, "r0", "a", "A"),
      ev("i", 2, "r1", "b", "B"))
    sync(up, mir)
    // evolve 1→2 (add sizeBytes), then new data
    up.evolveSchema(2)
    apply(up, 1, 2, 3, ev("u", 3, "r0", "a", "A2"))
    sync(up, mir)
    assert(mir.currentManifest().get.schemaId == 2,
      "mirror schema must track the upstream's")
    assertConverged(up, mir)
    // metadata-only movement (2→3 renames lang→language): one commit,
    // no file copied
    up.evolveSchema(3)
    val (o, copied) = copiedBy(mir)(sync(up, mir))
    assert(o.stats.isEmpty && copied.isEmpty,
      s"metadata-only movement copies no file, copied $copied")
    assert(mir.currentManifest().get.schemaId == 3)
    assert(mir.read(spark).columns.contains("language"))
    assertConverged(up, mir)
    // a mirror whose schema is AHEAD of its upstream is refused
    val ahead = IceTable.create(tmpDir("mir5-ahead"), numBuckets = 2)
    ahead.evolveSchema(2)
    ahead.evolveSchema(3)
    ahead.evolveSchema(4)
    assert(intercept[IllegalArgumentException](sync(up, ahead))
      .getMessage.contains("ahead of upstream"))
  }

  test("sync runs no Spark job (bootstrap, incremental, metadata-only, " +
      "after upstream compaction); a one-bucket epoch copies one file") {
    val up = IceTable.create(tmpDir("mirj-up"), numBuckets = 4)
    val mir = IceTable.create(tmpDir("mirj-m"), numBuckets = 4)
    apply(up, 0, -1, 40,
      (1 to 40).map(i => ev("i", i.toLong, s"r${i % 5}", s"f$i", s"V$i")): _*)
    val (_, jBoot) = jobsDuring(sync(up, mir))
    assert(jBoot == 0, s"bootstrap ran $jBoot Spark jobs")
    assertConverged(up, mir)
    // an epoch touching one bucket: the sync copies exactly that file
    val upBefore = names(up)
    apply(up, 1, 40, 41, ev("u", 41, "r1", "f1", "V1b"))
    val bucket = up.bucketOf("r1", "f1")
    val ((_, jInc), copied) = copiedBy(mir)(jobsDuring(sync(up, mir)))
    assert(jInc == 0, s"incremental sync ran $jInc Spark jobs")
    val wrote = up.currentManifest().get.files
      .filterNot(f => upBefore(relPath(f.path)))
    assert(wrote.map(_.bucket) == Seq(bucket), s"fixture: $wrote")
    assert(copied == wrote.map(f => relPath(f.path)).toSet,
      s"copied $copied, the epoch wrote $wrote")
    assertConverged(up, mir)
    up.evolveSchema(2)
    val ((_, jMeta), none) = copiedBy(mir)(jobsDuring(sync(up, mir)))
    assert(jMeta == 0 && none.isEmpty,
      s"metadata-only sync ran $jMeta jobs, copied $none")
    assertConverged(up, mir)
    Compaction.compact(spark, up)
    val (_, jCompact) = jobsDuring(sync(up, mir))
    assert(jCompact == 0, s"sync after compaction ran $jCompact Spark jobs")
    assertConverged(up, mir)
  }

  /** (bucket dir, name) of every file under a table's data/ */
  private def onDisk(dir: String): Set[String] =
    Option(new java.io.File(s"$dir/data").listFiles()).toSeq.flatten
      .flatMap(b => b.listFiles().toSeq.map(f => s"${b.getName}/${f.getName}"))
      .toSet

  /** every file and dir under a table's data/ and staging/, with its
    * length and mtime */
  private def tree(dir: String): Set[(String, Long, Long)] =
    Seq("data", "staging").flatMap { sub =>
      val root = new java.io.File(s"$dir/$sub")
      if (!root.exists) Nil
      else {
        val walk = java.nio.file.Files.walk(root.toPath)
        try walk.iterator().asScala.map { p =>
          val f = p.toFile
          (p.toString, if (f.isFile) f.length else -1L, f.lastModified)
        }.toList
        finally walk.close()
      }
    }.toSet

  test("copy-then-commit crash points over a parallel copy of 8 files: the " +
      "injected fault surfaces as itself, nothing is committed, and no copy " +
      "outlives the failed sync") {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl",
      classOf[FaultFileSystem].getName)
    val up = IceTable.create(tmpDir("pcrash-up"), numBuckets = 8)
    apply(up, 0, -1, 64, (1 to 64).map(i =>
      ev("i", i.toLong, "r", s"p$i", s"A$i")): _*)
    assert(up.currentManifest().get.files.size == 8,
      "fixture must fill all 8 buckets")
    var k = 0
    var failed = true
    while (failed) {
      k += 1
      val dir = s"${tmpDir(s"pcrash-$k")}/m"
      val mir = IceTable.create(s"faultfs:$dir", numBuckets = 8)
      FaultFileSystem.arm(k)
      val thrown =
        try { sync(up, mir); None }
        catch { case e: java.io.IOException => Some(e) }
        finally FaultFileSystem.disarm()
      failed = thrown.isDefined
      thrown.foreach { e =>
        assert(e.getClass == classOf[java.io.IOException] &&
          e.getMessage.startsWith(FaultFileSystem.Injected), s"k=$k: $e")
        assert(mir.currentManifest().isEmpty, s"k=$k: nothing is committed")
        val atThrow = tree(dir)
        Thread.sleep(200L)
        assert(tree(dir) == atThrow,
          s"k=$k: data/ and staging/ changed after sync threw")
        // heal: a healthy re-sync converges and the sweep leaves only
        // the referenced files
        sync(up, mir)
        assert(names(mir) == names(up), s"k=$k")
        mir.expireSnapshots(orphanDataGraceMillis = 0L)
        assert(onDisk(dir) == names(mir), s"k=$k: data/ after the sweep")
      }
      if (!failed) assertConverged(up, mir)
    }
    // 8 copies of create + mkdirs + rename each, then the commit
    assert(k > 3 * 8, s"the sync made only ${k - 1} mutating calls")
  }

  test("copy-then-commit crash points: a sync failing at its k-th " +
      "mutating file call, then a healthy re-sync, converges and leaves " +
      "only referenced files, for every k") {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl",
      classOf[FaultFileSystem].getName)
    val up = IceTable.create(tmpDir("crash-up"), numBuckets = 2)
    apply(up, 0, -1, 4, (1 to 4).map(i =>
      ev("i", i.toLong, "r", s"p$i", s"A$i")): _*)
    val v0 = up.currentVersion()
    apply(up, 1, 4, 6, ev("u", 5, "r", "p1", "B1"), ev("d", 6, "r", "p2", ""))
    val v1 = up.currentVersion()
    Seq("bootstrap" -> None, "incremental" -> Some(v0)).foreach {
      case (phase, from) =>
        var k = 0
        var failed = true
        while (failed) {
          k += 1
          val dir = s"${tmpDir(s"crash-$phase-$k")}/m"
          val mir = IceTable.create(s"faultfs:$dir", numBuckets = 2)
          from.foreach(v => MirrorJob.sync(spark, up, mir, N, Some(v)))
          FaultFileSystem.arm(k)
          failed =
            try { MirrorJob.sync(spark, up, mir, N, Some(v1)); false }
            catch {
              case e: java.io.IOException
                  if e.getMessage.contains(FaultFileSystem.Injected) => true
            } finally FaultFileSystem.disarm()
          val o = MirrorJob.sync(spark, up, mir, N, Some(v1))
          assert(o.toVersion == v1, s"$phase k=$k")
          assertConverged(up, mir)
          mir.expireSnapshots(orphanDataGraceMillis = 0L)
          assert(onDisk(dir) == names(mir),
            s"$phase k=$k: data/ must hold exactly the referenced files")
          assert(state(mir) == state(up), s"$phase k=$k after the sweep")
        }
        // a copy of >= 1 file plus the commit is several mutating calls
        assert(k >= 5, s"$phase: the sync made only ${k - 1} mutating calls")
    }
  }

  test("a stranded same-named file in data/ is replaced by a fresh copy, " +
      "never adopted") {
    val up = IceTable.create(tmpDir("strand-up"), numBuckets = 2)
    val mirDir = tmpDir("strand-m")
    val mir = IceTable.create(mirDir, numBuckets = 2)
    apply(up, 0, -1, 2, ev("i", 1, "r", "a", "A"), ev("i", 2, "r", "b", "B"))
    sync(up, mir)
    apply(up, 1, 2, 3, ev("u", 3, "r", "a", "A2"))
    val f = up.currentManifest().get.files
      .find(e => !names(mir)(relPath(e.path))).get
    // what a sync that crashed after its publish would leave (here with
    // garbage bytes and an old mtime)
    val name = relPath(f.path)
    val stranded = new java.io.File(s"$mirDir/data/$name")
    stranded.getParentFile.mkdirs()
    java.nio.file.Files.write(stranded.toPath, "not parquet".getBytes("UTF-8"))
    assert(stranded.setLastModified(System.currentTimeMillis() - 86400000L))
    val t0 = System.currentTimeMillis() - 1000L
    val (_, copied) = copiedBy(mir)(sync(up, mir))
    assert(copied.contains(name))
    val upFile =
      new java.io.File(new org.apache.hadoop.fs.Path(f.path).toUri.getPath)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(stranded.toPath),
      java.nio.file.Files.readAllBytes(upFile.toPath)),
      "the published file is a fresh copy of the upstream's")
    assert(stranded.lastModified() >= t0, "a fresh copy carries a fresh mtime")
    assertConverged(up, mir)
  }

  test("a rebucketed upstream is adopted whole: the mirror commits at the " +
      "new bucket count and lookups agree with reads and the upstream") {
    val up = IceTable.create(tmpDir("rebk-up"), numBuckets = 2)
    val mir = IceTable.create(tmpDir("rebk-m"), numBuckets = 2)
    val keys = (1 to 24).map(i => (s"r${i % 3}", s"p$i"))
    apply(up, 0, -1, 24, keys.zipWithIndex.map { case ((r, p), i) =>
      ev("i", i + 1L, r, p, s"V$i") }: _*)
    apply(up, 1, 24, 26, ev("d", 25, "r1", "p1", ""),
      ev("u", 26, "r2", "p2", "W"))
    sync(up, mir)
    val twoBucketFiles = names(mir)
    Rebucket.rebucket(spark, up, 4)
    sync(up, mir)
    val m = mir.currentManifest().get
    assert(m.numBuckets == 4 && mir.numBuckets == 4)
    assert(names(mir) == names(up) && (names(mir) & twoBucketFiles).isEmpty,
      "no 2-bucket file may stay listed")
    assertConverged(up, mir)
    val cols = Seq("repo", "path", "commit", "lang", "content").map(col)
    (keys :+ ("r9" -> "absent")).foreach { case (r, p) =>
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols: _*).collect().toSeq
      val got = rows(mir.lookup(spark, r, p))
      assert(got == rows(mir.read(spark)
        .filter(col("repo") === r && col("path") === p)), s"($r, $p) read")
      assert(got == rows(up.lookup(spark, r, p)), s"($r, $p) upstream")
    }
  }
}
