package graft

import graft.driver.ReplayJob
import graft.log.LogSpec
import graft.merge.Intervals
import graft.model._
import graft.table.IceTable
import org.scalacheck.{Gen, Prop, Test => SCTest}

class TableInvariantsSpec extends SparkSpec {

  test("commit CAS rejects a concurrent second writer") {
    val t = IceTable.create(tmpDir("cas"), numBuckets = 2)
    ReplayJob.replayGenerated(spark, t,
      LogSpec(nEvents = 500, nRepos = 4, nPathsPerRepo = 5), nEpochs = 1,
      nLogPartitions = 2)
    val m = t.currentManifest().get
    // a writer that planned against an older parent must be rejected
    val staleCommit = m.copy(version = m.version + 1,
      parentVersion = m.parentVersion) // parent is v-1, current is v
    intercept[IllegalArgumentException] { t.commit(staleCommit) }
    // and a correct descendant commits fine
    val ok = m.copy(version = m.version + 1, parentVersion = m.version)
    t.commit(ok)
    assert(t.currentVersion() == ok.version)
  }

  test("racing commits of the same version: exactly one wins (rename CAS)") {
    val t = IceTable.create(tmpDir("race"), numBuckets = 2)
    ReplayJob.replayGenerated(spark, t,
      LogSpec(nEvents = 300, nRepos = 3, nPathsPerRepo = 4), nEpochs = 1,
      nLogPartitions = 2)
    val m = t.currentManifest().get
    // two writers planned against the same parent race the SAME next version
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val results = (0 until 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          val mine = m.copy(version = m.version + 1, epochId = 100L + i,
            parentVersion = m.version)
          gate.await()
          try { t.commit(mine); None }
          catch { case e: Throwable => Some(e) }
        }
      })
    }
    gate.countDown()
    val outcomes = results.map(_.get())
    pool.shutdown()
    assert(outcomes.count(_.isEmpty) == 1,
      s"exactly one racer must win, got $outcomes")
    assert(outcomes.count(_.exists(_.isInstanceOf[IllegalArgumentException]))
      == 1, s"the loser must get a CAS error, got $outcomes")
    // the table is intact: one new committed snapshot, readable
    assert(t.currentVersion() == m.version + 1)
    assert(t.read(spark).count() > 0)
  }

  test("optimistic commit retry: disjoint-bucket interleave rebases; " +
      "overlapping buckets still raise") {
    import spark.implicits._
    import graft.merge.MergeEngine
    val dir = tmpDir("rebase")
    val t = IceTable.create(dir, numBuckets = 4)
    val c40 = "c" * 40
    def ev(op: String, seq: Long, path: String, content: String) =
      ChangeEvent(op, seq, "r", path, c40, "scala", content)
    // keys in two DIFFERENT buckets, plus one sharing k1's bucket
    val k1 = "p0"
    val k2 = (1 to 50).map(i => s"p$i").find(k =>
      t.bucketOf("r", k, 4) != t.bucketOf("r", k1, 4)).get
    val k3 = (1 to 50).map(i => s"q$i").find(k =>
      t.bucketOf("r", k, 4) == t.bucketOf("r", k1, 4)).get
    MergeEngine.applyEpoch(spark, t, Seq(ev("i", 1L, k1, "a"),
      ev("i", 2L, k2, "b"), ev("i", 3L, k3, "c")).toDS(), 0,
      nLogPartitions = 2, claimedRange = Some((-1L, 5L)))
    val v0 = t.currentVersion()

    // DISJOINT: while epoch 1 (k1's bucket, claims (5,6]) sits inside its
    // commit window, a second writer commits epoch 2 (k2's bucket, claims
    // (10,11]) — epoch 1 must lose the CAS, rebase, and commit on top
    val t2 = new IceTable(dir, defaultNumBuckets = 4)
    t.onBeforeSnapshotCas = () => {
      t.onBeforeSnapshotCas = () => ()
      MergeEngine.applyEpoch(spark, t2, Seq(ev("u", 11L, k2, "b2")).toDS(),
        2, nLogPartitions = 2, claimedRange = Some((10L, 11L)))
    }
    val out = MergeEngine.applyEpoch(spark, t,
      Seq(ev("u", 6L, k1, "a2")).toDS(), 1, nLogPartitions = 2,
      claimedRange = Some((5L, 6L)))
    assert(!out.skipped && out.stats.rowsApplied == 1)
    assert(t.currentVersion() == v0 + 2, "both interleaved writers must commit")
    def state() = t.read(spark).select("path", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state() == Map(k1 -> "a2", k2 -> "b2", k3 -> "c"),
      "both epochs' effects must be visible after the rebase")
    val ivs = MergeEngine.committedIntervals(t.currentManifest())
    assert(ivs.values.forall(s =>
      Intervals.covers(s, 6L) && Intervals.covers(s, 11L)),
      "both writers' claims must be committed")

    // OVERLAP: the interleaver touches k1's bucket too — NOT rebasable; the
    // losing epoch aborts with the CAS error and leaves no state behind
    t.onBeforeSnapshotCas = () => {
      t.onBeforeSnapshotCas = () => ()
      MergeEngine.applyEpoch(spark, t2, Seq(ev("u", 21L, k3, "c2")).toDS(),
        4, nLogPartitions = 2, claimedRange = Some((20L, 21L)))
    }
    val e = intercept[IllegalArgumentException] {
      MergeEngine.applyEpoch(spark, t, Seq(ev("u", 16L, k1, "a3")).toDS(),
        3, nLogPartitions = 2, claimedRange = Some((15L, 16L)))
    }
    assert(e.getMessage.contains("not rebasable"))
    assert(state() == Map(k1 -> "a2", k2 -> "b2", k3 -> "c2"),
      "the interleaver's commit survives; the aborted epoch applied nothing")
    val ivs2 = MergeEngine.committedIntervals(t.currentManifest())
    assert(ivs2.values.forall(s => !Intervals.covers(s, 16L)),
      "the aborted epoch's claims must NOT be committed")
  }

  test("rebase carries an interleaved maintenance commit's purge mark") {
    // A compaction that purges tombstones below the safe horizon stamps a
    // monotone purgedBelowSeq on its manifest. If an ingest epoch rebases
    // over such an interleaver (the documented rebasable case: disjoint
    // buckets/claims), the rebased manifest must CARRY the advanced mark —
    // regressing it would hide the purge from a change-feed window spanning
    // the rebase (the feed's removed-file delete synthesis is gated on the
    // mark moving), silently dropping deletes on mirrors.
    import spark.implicits._
    import graft.merge.MergeEngine
    val dir = tmpDir("rebase-purge")
    val t = IceTable.create(dir, numBuckets = 4)
    val c40 = "c" * 40
    def ev(op: String, seq: Long, path: String, content: String) =
      ChangeEvent(op, seq, "r", path, c40, "scala", content)
    MergeEngine.applyEpoch(spark, t, Seq(ev("i", 1L, "p0", "a")).toDS(), 0,
      nLogPartitions = 2, claimedRange = Some((-1L, 5L)))
    // interleave a METADATA-ONLY maintenance commit (no bucket rewrites, no
    // new claims — provably rebasable) that advances the purge mark, inside
    // the ingest epoch's commit window
    val t2 = new IceTable(dir, defaultNumBuckets = 4)
    t.onBeforeSnapshotCas = () => {
      t.onBeforeSnapshotCas = () => ()
      val pm = t2.currentManifest().get
      t2.commit(pm.copy(version = pm.version + 1, parentVersion = pm.version,
        epochId = 1000000123L, purgedBelowSeq = 7L))
    }
    val out = MergeEngine.applyEpoch(spark, t,
      Seq(ev("u", 6L, "p0", "a2")).toDS(), 1, nLogPartitions = 2,
      claimedRange = Some((5L, 6L)))
    assert(!out.skipped && out.manifest.purgedBelowSeq == 7L,
      "the rebased manifest must carry the interleaver's purge mark")
    assert(t.currentManifest().get.purgedBelowSeq == 7L,
      "the committed snapshot must not regress the monotone purge mark")
  }

  test("an empty-table handle never caches its construction default " +
      "bucket count") {
    import spark.implicits._
    val dir = tmpDir("nbcache")
    val a = new IceTable(dir, defaultNumBuckets = 32)
    assert(a.numBuckets == 32, "empty table answers with the default")
    // ANOTHER process creates the table 8 wide and commits first
    val b = IceTable.create(dir, numBuckets = 8)
    graft.merge.MergeEngine.applyEpoch(spark, b,
      Seq(ChangeEvent("i", 1L, "r", "p", "c" * 40, "scala", "v")).toDS(), 0,
      nLogPartitions = 2, claimedRange = Some((0L, 1L)))
    assert(a.numBuckets == 8,
      "the pre-creation handle must adopt the committed width, not a " +
        "cached default")
  }

  test("rebase under partition-universe growth keeps the intersection " +
      "fence on the new partitions") {
    import spark.implicits._
    import graft.merge.MergeEngine
    val dir = tmpDir("rebaseGrow")
    val t = IceTable.create(dir, numBuckets = 4)
    val c40 = "c" * 40
    def ev(op: String, seq: Long, path: String, content: String) =
      ChangeEvent(op, seq, "r", path, c40, "scala", content)
    val k1 = "p0"
    val k2 = (1 to 50).map(i => s"p$i").find(k =>
      t.bucketOf("r", k, 4) != t.bucketOf("r", k1, 4)).get
    // epoch 0: universe {0,1}, origin-anchored through seq 10
    MergeEngine.applyEpoch(spark, t, Seq(ev("i", 1L, k1, "a"),
      ev("i", 2L, k2, "b")).toDS(), 0, nLogPartitions = 2,
      claimedRange = Some((-1L, 10L)))
    // epoch 1 WIDENS to 4 partitions (claims (10,11], k1's bucket); an
    // interleaver at the OLD universe commits (15,16] on k2's bucket
    val t2 = new IceTable(dir, defaultNumBuckets = 4)
    t.onBeforeSnapshotCas = () => {
      t.onBeforeSnapshotCas = () => ()
      MergeEngine.applyEpoch(spark, t2, Seq(ev("u", 16L, k2, "b2")).toDS(),
        2, nLogPartitions = 2, claimedRange = Some((15L, 16L)))
    }
    val out = MergeEngine.applyEpoch(spark, t,
      Seq(ev("u", 11L, k1, "a2")).toDS(), 1, nLogPartitions = 4,
      claimedRange = Some((10L, 11L)))
    assert(!out.skipped)
    val ivs = MergeEngine.committedIntervals(t.currentManifest())
    assert(ivs.keySet == Set(0, 1, 2, 3), "universe widened through rebase")
    // the NEW partitions must carry the intersection fence (pre-widening
    // seq 5 and the interleaver's 16), our claim (11), and no more (13)
    Seq(2, 3).foreach { p =>
      assert(Intervals.covers(ivs(p), 5L),
        s"p$p lost the intersection fence: ${ivs(p)}")
      assert(Intervals.covers(ivs(p), 16L) && Intervals.covers(ivs(p), 11L))
      assert(!Intervals.covers(ivs(p), 13L))
    }
    // horizons advance (claim-fragment-only new partitions would stall at
    // the parent's completeUntilSeq)
    assert(t.currentManifest().get.completeUntilSeq == 11L)
  }

  test("table runs end-to-end on a non-file Hadoop FileSystem scheme") {
    // register a custom scheme backed by local disk; every metadata and data
    // operation (staging write, publish rename, snapshot CAS, manifest read,
    // retention delete) must route through the Hadoop FileSystem API.
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFileSystem].getName)
    val sp = LogSpec(seed = 11L, nEvents = 2000, nRepos = 4,
      nPathsPerRepo = 8, pDelete = 0.1)
    val t = IceTable.create(s"graftfs:${tmpDir("gfs")}/table", numBuckets = 4)
    ReplayJob.replayGenerated(spark, t, sp, nEpochs = 3, nLogPartitions = 4)
    assert(t.currentVersion() == 2L)
    val m = t.currentManifest().get
    assert(m.files.nonEmpty && m.files.forall(_.path.startsWith("graftfs:")),
      s"data files must live under the custom scheme: ${m.files.take(2)}")
    val want = graft.log.OracleFold.fold(
      graft.log.ChangeLogGen.generateLocal(sp))
      .map { case (k, v) => k -> v.contentSha }
    val got = t.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got == want, "replay through graftfs:// must match the oracle")
    // retention + fenced replay still work through the scheme
    val (ms, fs2) = t.expireSnapshots(keepLast = 1)
    assert(ms == 2 && fs2 > 0)
    val again = ReplayJob.replayGenerated(spark, t, sp, nEpochs = 3,
      nLogPartitions = 4)
    assert(again.forall(_.skipped))
  }

  test("LocalFs keeps the file contract: permissions, .crc sidecars, " +
    "checksum failures and the global file statistics") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.PosixFilePermissions.fromString
    import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem,
      Path}
    import graft.table.LocalFs
    // a non-default umask: a setPermission that did nothing would leave the
    // process umask's bits, which differ from the stock FileSystem's
    val umask = "fs.permissions.umask-mode"
    spark.conf.set(umask, "027")
    try {
      val sp = LogSpec(seed = 5L, nEvents = 2000, nRepos = 4,
        nPathsPerRepo = 8, pDelete = 0.1)
      val root = tmpDir("lfs")
      val t = IceTable.create(s"$root/table", numBuckets = 4)
      ReplayJob.replayGenerated(spark, t, sp, nEpochs = 2, nLogPartitions = 4)
      graft.maintenance.Compaction.compact(spark, t)
      val m = t.currentManifest().get
      val conf = spark.sessionState.newHadoopConf()
      LocalFs.keys(conf).foreach { case (k, v) => conf.set(k, v) }
      val lfs = new Path(root).getFileSystem(conf)
      assert(lfs.isInstanceOf[LocalFs])

      def perms(p: Path) =
        Files.getPosixFilePermissions(Paths.get(p.toUri.getPath))
      val stock = new LocalFileSystem()
      stock.initialize(new java.net.URI("file:///"), conf)
      val refDir = new Path(s"$root/ref/bucket=0")
      assert(stock.mkdirs(refDir))
      val refFile = new Path(refDir, "ref.parquet")
      stock.create(refFile).close()
      assert(perms(refFile) == fromString("rw-r-----") &&
        perms(refDir) == fromString("rwxr-x---"), "the umask applies")
      val data = m.files.map(f => new Path(f.path))
      assert(data.nonEmpty)
      data.foreach { p =>
        assert(perms(p) == perms(refFile), s"data file $p")
        assert(perms(p.getParent) == perms(refDir),
          s"bucket dir ${p.getParent}")
        assert(Files.exists(Paths.get(
          new Path(p.getParent, s".${p.getName}.crc").toUri.getPath)),
          s"missing .crc sidecar of $p")
      }

      // every byte the engine reads through LocalFs reaches the global `file`
      // StorageStatistics (manifest reads go through it only)
      def bytesRead(): Long = FileSystem.getGlobalStorageStatistics
        .get("file").getLong("bytesRead")
      val key = t.read(spark).select("repo", "path").head()
      val b0 = bytesRead()
      assert(t.readManifest(m.version).files == m.files)
      val b1 = bytesRead()
      assert(b1 > b0, "LocalFs reads must count into the file statistics")
      assert(t.lookup(spark, key.getString(0), key.getString(1)).count() == 1)
      assert(bytesRead() > b1)

      // one flipped byte still fails the checksum on read
      val victim = Paths.get(data.head.toUri.getPath)
      val bytes = Files.readAllBytes(victim)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
      Files.write(victim, bytes)
      intercept[ChecksumException] {
        val in = lfs.open(data.head)
        try { while (in.read() >= 0) () } finally in.close()
      }
    } finally spark.conf.unset(umask)
  }

  test("a session's own fs.file.impl wins over LocalFs") {
    // where a session's `spark.hadoop.fs.file.impl` lands; the cache is off
    // because this JVM already cached the stock `file:` FileSystem
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val prev = keys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    hc.set("fs.file.impl.disable.cache", "true")
    try {
      val sp = LogSpec(seed = 9L, nEvents = 1000, nRepos = 4,
        nPathsPerRepo = 8, pDelete = 0.1)
      val t = IceTable.create(tmpDir("ufs"), numBuckets = 4)
      val before = CountingLocalFileSystem.creates.get()
      ReplayJob.replayGenerated(spark, t, sp, nEpochs = 1, nLogPartitions = 4)
      assert(CountingLocalFileSystem.creates.get() > before,
        "the engine's writes must go through the session's fs.file.impl")
      val want = graft.log.OracleFold.fold(
        graft.log.ChangeLogGen.generateLocal(sp))
        .map { case (k, v) => k -> v.contentSha }
      val got = t.read(spark).select("repo", "path", "contentSha").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      assert(got == want)
    } finally prev.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
  }

  test("lineage rows exist per epoch and lag is non-negative") {
    val state = tmpDir("lineage")
    val t = IceTable.create(tmpDir("ltab"), numBuckets = 4)
    ReplayJob.replayGenerated(spark, t,
      LogSpec(nEvents = 4000, nRepos = 8, nPathsPerRepo = 10), nEpochs = 4,
      nLogPartitions = 4, stateDir = Some(state))
    (0 until 4).foreach { e =>
      val rows = spark.read.parquet(s"$state/lineage/epoch=$e")
      assert(rows.count() == 4, s"one lineage row per partition, epoch $e")
      val lags = rows.select("watermarkLag").collect().map(_.getLong(0))
      assert(lags.forall(_ >= 0))
      val his = rows.select("srcHighSeq").collect().map(_.getLong(0))
      assert(his.forall(_ <= e * 1000 + 999))
    }
  }

  test("property: interval normalize is idempotent and order-insensitive") {
    val ivGen = Gen.listOfN(8, for {
      lo <- Gen.choose(-1L, 100L)
      len <- Gen.choose(1L, 30L)
    } yield (lo, lo + len))
    val prop = Prop.forAll(ivGen, Gen.long) { (ivs, shufSeed) =>
      val n1 = Intervals.normalize(ivs)
      val r = new scala.util.Random(shufSeed)
      val n2 = Intervals.normalize(r.shuffle(ivs))
      val idem = Intervals.normalize(n1) == n1
      val sameAnyOrder = n1 == n2
      // coverage preserved: every point covered before is covered after
      val pointsOk = (-1L to 131L).forall(p =>
        Intervals.covers(ivs, p) == Intervals.covers(n1, p))
      // disjoint + sorted output
      val sortedDisjoint = n1.sliding(2).forall {
        case Seq((_, h1), (l2, _)) => l2 > h1
        case _ => true
      }
      idem && sameAnyOrder && pointsOk && sortedDisjoint
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("time travel reads an older snapshot unchanged by later commits") {
    val t = IceTable.create(tmpDir("tt"), numBuckets = 2)
    val spec = LogSpec(nEvents = 2000, nRepos = 4, nPathsPerRepo = 8)
    ReplayJob.replayGenerated(spark, t, spec, nEpochs = 4, nLogPartitions = 2)
    val v1 = 1L
    val stateAtV1 = t.readAt(spark, v1).count()
    // more commits happened (v2, v3) — v1 must still read identically
    assert(t.currentVersion() == 3L)
    assert(t.readAt(spark, v1).count() == stateAtV1)
    val curCount = t.read(spark).count()
    assert(t.readAt(spark, 3L).count() == curCount)
  }

  test("expireSnapshots removes old manifests + unreferenced files only") {
    val t = IceTable.create(tmpDir("exp"), numBuckets = 2)
    val spec = LogSpec(nEvents = 2000, nRepos = 4, nPathsPerRepo = 8)
    ReplayJob.replayGenerated(spark, t, spec, nEpochs = 4, nLogPartitions = 2)
    val before = t.read(spark).collect().map(_.toString).sorted.toSeq
    val (manifests, files) = t.expireSnapshots(keepLast = 2)
    assert(manifests == 2, "v0 and v1 expire")
    assert(files > 0, "superseded bucket files are deleted")
    // current + previous still readable and identical
    assert(t.read(spark).collect().map(_.toString).sorted.toSeq == before)
    assert(t.readAt(spark, 2L).count() > 0)
    intercept[Exception] { t.readAt(spark, 0L) } // expired
    // idempotent
    assert(t.expireSnapshots(keepLast = 2) == ((0, 0)))
  }

  test("orphan data-file sweep: files published by a crashed / CAS-losing " +
      "epoch are reclaimed past the grace window; in-flight files survive") {
    val t = IceTable.create(tmpDir("orphd"), numBuckets = 2)
    ReplayJob.replayGenerated(spark, t,
      LogSpec(nEvents = 1000, nRepos = 4, nPathsPerRepo = 8), nEpochs = 2,
      nLogPartitions = 2)
    val before = t.read(spark).collect().map(_.toString).sorted.toSeq
    // an epoch that PUBLISHED its files but never committed — the stranding
    // shape shared by a pre-commit crash and a non-rebasable CAS loss
    // (publish happens before the snapshot CAS by design)
    val stranded = t.writeEpochFiles(t.readRaw(spark), epochId = 999L)
    assert(stranded.nonEmpty)
    val conf = spark.sessionState.newHadoopConf()
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).exists(hp)
    }
    // within the grace window the strands are indistinguishable from a
    // slow in-flight commit's files — they must survive
    t.expireSnapshots(keepLast = 100, orphanDataGraceMillis = 3600000L)
    assert(stranded.forall(e => exists(e.path)),
      "grace window must protect possibly-in-flight files")
    // past the grace window they are provably orphans — reclaimed
    val (_, swept) = t.expireSnapshots(keepLast = 100,
      orphanDataGraceMillis = 0L)
    assert(swept >= stranded.size, s"swept $swept < ${stranded.size}")
    assert(stranded.forall(e => !exists(e.path)), "orphans must be gone")
    // committed state and every referenced file untouched
    assert(t.read(spark).collect().map(_.toString).sorted.toSeq == before)
    assert(t.currentManifest().get.files.forall(e => exists(e.path)))
    // idempotent: nothing left to sweep
    assert(t.expireSnapshots(keepLast = 100,
      orphanDataGraceMillis = 0L) == ((0, 0)))
  }

  test("a legacy segmented snapshot fails loudly; expiry deletes nothing") {
    val dir = tmpDir("legacyseg")
    val t = IceTable.create(dir, numBuckets = 2)
    ReplayJob.replayGenerated(spark, t,
      LogSpec(nEvents = 500, nRepos = 4, nPathsPerRepo = 8), nEpochs = 2,
      nLogPartitions = 2)
    // a stranded data file the orphan sweep would reclaim at grace 0
    assert(t.writeEpochFiles(t.readRaw(spark), epochId = 999L).nonEmpty)
    import java.nio.file.{Files, Paths}
    import graft.table.ManifestJson
    def snap(v: Long) = Paths.get(f"$dir/meta/snap-$v%08d.json")
    def json(v: Long) = new String(Files.readAllBytes(snap(v)), "UTF-8")
    // an older inline snapshot still carries the retired header fields:
    // an empty fileSegs list and the file-list summary — it reads as before
    val m0 = t.readManifest(0L)
    Files.write(snap(0L), ("""{ "fileSegs" : [ ], "fileCount" : 7, """ +
      """"dataBytes" : 9, """ + json(0L).trim.stripPrefix("{"))
      .getBytes("UTF-8"))
    assert(t.readManifest(0L) == m0)
    // the CURRENT snapshot in its segmented form: no inline files, the
    // list held in a segment file — read as inline it would be an empty
    // table
    val v = t.currentVersion()
    val seg = s"file:$dir/meta/fseg-${"0" * 64}.json"
    Files.write(snap(v), (s"""{ "fileSegs" : [ "$seg" ], """ +
      ManifestJson.write(t.readManifest(v).copy(files = Nil)).trim
        .stripPrefix("{")).getBytes("UTF-8"))
    def onDisk(): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(Paths.get(dir))
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toSet
      finally w.close()
    }
    val before = onDisk()
    val e = intercept[IllegalStateException](t.readManifest(v))
    assert(e.getMessage.contains(s"snapshot version $v "), e.getMessage)
    intercept[IllegalStateException](t.read(spark))
    // v0 would expire and the stranded file would be swept: both must
    // survive, because the retained legacy snapshot cannot be read
    intercept[IllegalStateException](
      t.expireSnapshots(keepLast = 1, orphanDataGraceMillis = 0L))
    assert(onDisk() == before, "a refused snapshot must delete nothing")
  }

  test("numBuckets is cached per handle: no repeat meta listings (countfs)") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[CountingGraftFileSystem].getName)
    val dir = s"countfs:${tmpDir("nbcount")}/table"
    val t = IceTable.create(dir, numBuckets = 8)
    ReplayJob.replayGenerated(spark, t, LogSpec(seed = 13L, nEvents = 2000,
      nRepos = 6, nPathsPerRepo = 15, pDelete = 0.1), nEpochs = 2,
      nLogPartitions = 4)
    val h = t.history().last
    assert(h.files == t.currentManifest().get.files.size && h.bytes > 0L)
    // warmed by the commits above — repeated calls do ZERO metadata IO; a
    // cold handle pays exactly one listing + manifest read
    CountingGraftFileSystem.metaLists.set(0L)
    (1 to 3).foreach(_ => assert(t.numBuckets == 8))
    assert(CountingGraftFileSystem.metaLists.get() == 0L,
      "cached numBuckets must not re-list meta/ per call")
    val cold = new IceTable(dir, defaultNumBuckets = 4)
    assert(cold.numBuckets == 8) // resolved from the manifest, not the default
    CountingGraftFileSystem.metaLists.set(0L)
    (1 to 3).foreach(_ => assert(cold.numBuckets == 8))
    assert(CountingGraftFileSystem.metaLists.get() == 0L)
  }

  test("versionAsOf never serves a legacy unstamped snapshot out of era") {
    import java.nio.file.{Files, Paths}
    val spec = LogSpec(seed = 13L, nEvents = 2000, nRepos = 6,
      nPathsPerRepo = 15, pDelete = 0.1)
    val dir = tmpDir("msegtt")
    val t = IceTable.create(dir, numBuckets = 4)
    ReplayJob.replayGenerated(spark, t, spec.copy(nEvents = 400), nEpochs = 2,
      nLogPartitions = 2)
    val v1Stamp = t.readManifest(1L).commitTimeMillis
    assert(v1Stamp > 0)
    // forge v0 into a LEGACY manifest (no commit stamp)
    def unstamp(v: Long): Unit = {
      val p = Paths.get(f"$dir/meta/snap-$v%08d.json")
      val m = graft.table.ManifestJson.parse(
        new String(Files.readAllBytes(p), "UTF-8"))
      Files.write(p, graft.table.ManifestJson
        .write(m.copy(commitTimeMillis = -1L)).getBytes("UTF-8"))
    }
    unstamp(0L)
    // v0's commit time is bounded by its stamped successor: eligible only
    // from v1Stamp onward — the old "infinitely old" rule would have served
    // v0 for ANY timestamp, including ones predating the whole table
    assert(t.versionAsOf(v1Stamp - 1).isEmpty,
      "a legacy snapshot must not be served before its successor's stamp")
    assert(t.versionAsOf(v1Stamp).contains(1L))
    // fully-legacy table: timestamp travel refuses (version travel still ok)
    unstamp(1L)
    assert(t.versionAsOf(System.currentTimeMillis()).isEmpty)
    assert(t.readAt(spark, 1L).count() > 0)
  }

  test("offset bootstrap: latest skips history, lookback backfills a window") {
    val spec2 = LogSpec(seed = 3L, nEvents = 1000, nRepos = 4,
      nPathsPerRepo = 6, pDelete = 0.0)
    // Latest: nothing before seq 1000 is ever ingested
    val tLatest = IceTable.create(tmpDir("blat"), numBuckets = 2)
    ReplayJob.bootstrap(tLatest, ReplayJob.Latest, latestSeq = 999,
      nLogPartitions = 2)
    val r = ReplayJob.replayGenerated(spark, tLatest, spec2, nEpochs = 2,
      nLogPartitions = 2)
    assert(r.forall(_.skipped), "all history must be fenced under Latest")
    assert(tLatest.read(spark).count() == 0)

    // Lookback(200): only the last 200 offsets ingest
    val tLb = IceTable.create(tmpDir("blb"), numBuckets = 2)
    ReplayJob.bootstrap(tLb, ReplayJob.Lookback(200), latestSeq = 999,
      nLogPartitions = 2)
    ReplayJob.replayGenerated(spark, tLb, spec2, nEpochs = 2,
      nLogPartitions = 2)
    val got = tLb.read(spark).count()
    val oracleTail = graft.log.OracleFold.fold(
      graft.log.ChangeLogGen.generateLocal(spec2).filter(_.seq > 799)).size
    assert(got == oracleTail, s"lookback window rows: got $got want $oracleTail")

    // bootstrap on a table WITH state is a no-op
    val v = tLb.currentVersion()
    ReplayJob.bootstrap(tLb, ReplayJob.Latest, latestSeq = 5000,
      nLogPartitions = 2)
    assert(tLb.currentVersion() == v)
  }

  test("AqeSafety merges user AQE exclusions and restores them on exit") {
    import graft.table.AqeSafety
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "x.y.UserRule")
      AqeSafety.withObservationsSafe(spark) {
        assert(spark.conf.get(key).split(",").toSet ==
          Set("x.y.UserRule", AqeSafety.EmptyRelationRule),
          "user exclusions must be MERGED, not clobbered")
      }
      assert(spark.conf.get(key) == "x.y.UserRule", "restore on exit")
      spark.conf.unset(key)
      AqeSafety.withObservationsSafe(spark) {
        assert(spark.conf.get(key) == AqeSafety.EmptyRelationRule)
      }
      assert(spark.conf.getOption(key).isEmpty, "unset restores to absent")
    } finally prev match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
  }
}
