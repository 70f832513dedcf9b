package graft

import graft.maintenance.Compaction
import graft.merge.MergeEngine
import graft.model.ChangeEvent
import graft.table.{ChangeFeed, GraftCatalog, IceTable}

/**
 * Streaming/batch change feed as a SQL-addressable table
 * (`<catalog>.<table>.changes`, graft.table.ChangeFeedTable): feed shape,
 * startingVersion slicing, carried-row fencing (rewrites emit nothing),
 * unopened pruning of fully-fenced files, micro-batch tailing of the
 * snapshot log with checkpointed restart, and the mirror property (feeding
 * the feed back through the engine reproduces the upstream user view).
 */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def ev(op: String, seq: Long, repo: String, path: String,
                 content: String): ChangeEvent =
    ChangeEvent(op, seq, repo, path, "c" * 40, "scala", content)

  private def apply(t: IceTable, epoch: Long, lo: Long, hi: Long,
                    evs: ChangeEvent*): Unit = {
    MergeEngine.applyEpoch(spark, t, evs.toDS(), epoch, nLogPartitions = 2,
      claimedRange = Some((lo, hi)))
    ()
  }

  private def withCatalog(catName: String, catDir: String)(
      body: => Unit): Unit = {
    spark.conf.set(s"spark.sql.catalog.$catName",
      "graft.table.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.dir", catDir)
    try body
    finally {
      spark.conf.unset(s"spark.sql.catalog.$catName")
      spark.conf.unset(s"spark.sql.catalog.$catName.dir")
    }
  }

  test("batch feed from origin: change-event shape, tombstones as 'd', " +
      "physical columns hidden") {
    val catDir = tmpDir("cfeed1cat")
    val t = IceTable.create(tmpDir("cfeed1tab"), numBuckets = 4)
    apply(t, 0, 0, 3,
      ev("i", 1, "r0", "a", "A1"),
      ev("i", 2, "r0", "b", "B1"),
      ev("i", 3, "r1", "c", "C1"))
    apply(t, 1, 3, 5,
      ev("u", 4, "r0", "a", "A2"),
      ev("d", 5, "r0", "b", ""))
    GraftCatalog.create(catDir).register("commits", t.dir)
    withCatalog("cf1", catDir) {
      val df = spark.sql("SELECT * FROM cf1.commits.changes")
      assert(df.columns.toSeq == Seq("op", "seq", "repo", "path", "commit",
        "lang", "content", "contentSha", "_commit_version", "_schema_id"),
        s"feed columns must be op, seq, the user view, then metadata: " +
          s"${df.columns.toSeq}")
      // metadata columns: batch-from-origin stamps the END version on
      // every row; the schema id is the load-time vintage
      assert(df.select("_commit_version").distinct().collect()
        .map(_.getLong(0)).toSeq == Seq(t.currentVersion()))
      assert(df.select("_schema_id").distinct().collect()
        .map(_.getInt(0)).toSeq ==
        Seq(t.currentManifest().get.schemaId))
      val rows = df.collect().map(r => (r.getAs[String]("op"),
        r.getAs[Long]("seq"), r.getAs[String]("repo"),
        r.getAs[String]("path"))).toSet
      // origin feed = current physical state: live rows as 'u', the
      // tombstone as 'd' (r0/b's insert at seq 2 was superseded)
      assert(rows == Set(
        ("u", 4L, "r0", "a"),
        ("d", 5L, "r0", "b"),
        ("u", 3L, "r1", "c")), s"got $rows")
      // dotted-default spelling resolves the same feed
      assert(spark.sql("SELECT count(*) FROM cf1.default.commits.changes")
        .head().getLong(0) == 3L)
      // a registration literally named "changes" still reads as DATA
      GraftCatalog.create(catDir).register("changes", t.dir)
      assert(spark.sql("SELECT * FROM cf1.changes").columns.toSeq
        .startsWith(Seq("repo")), "top-level name 'changes' is a data table")
    }
  }

  test("startingVersion slices the feed; carried rows in rewritten files " +
      "are fenced out; state-preserving compaction emits nothing") {
    val catDir = tmpDir("cfeed2cat")
    val t = IceTable.create(tmpDir("cfeed2tab"), numBuckets = 1)
    // one bucket: any later epoch REWRITES the file holding untouched keys
    apply(t, 0, 0, 2,
      ev("i", 1, "r0", "a", "A1"),
      ev("i", 2, "r0", "b", "B1"))
    val vA = t.currentVersion()
    apply(t, 1, 2, 3, ev("u", 3, "r0", "a", "A2"))
    GraftCatalog.create(catDir).register("commits", t.dir)
    withCatalog("cf2", catDir) {
      val sliced = spark.read.option("startingVersion", vA.toString)
        .table("cf2.commits.changes").collect()
        .map(r => (r.getAs[String]("op"), r.getAs[String]("path"),
          r.getAs[String]("content"))).toSet
      // r0/b lives in the rewritten bucket file but its seq (2) is inside
      // vA's committed intervals — carried, not changed, so fenced out
      assert(sliced == Set(("u", "a", "A2")), s"got $sliced")
    }
    // compaction rewrites files without changing state: feed must be empty
    val vB = t.currentVersion()
    Compaction.compact(spark, t)
    val vC = t.currentVersion()
    assert(vC > vB, "compaction must have committed a rewrite")
    withCatalog("cf2b", catDir) {
      assert(spark.read.option("startingVersion", vB.toString)
        .table("cf2b.commits.changes").count() == 0L,
        "a state-preserving rewrite emits no change events")
    }
  }

  test("fully-fenced files are pruned from the plan without being opened") {
    val t = IceTable.create(tmpDir("cfeed3tab"), numBuckets = 2)
    apply(t, 0, 0, 4,
      ev("i", 1, "r0", "a", "A"), ev("i", 2, "r1", "b", "B"),
      ev("i", 3, "r2", "c", "C"), ev("i", 4, "r3", "d", "D"))
    val vA = t.currentVersion()
    val mA = Some(t.readManifest(vA))
    // compaction rewrites every file; all row seqs are fenced by vA
    Compaction.compact(spark, t)
    val mB = t.readManifest(t.currentVersion())
    assert(mB.files.map(_.path).toSet
      .intersect(mA.get.files.map(_.path).toSet).isEmpty,
      "the rewrite must have produced all-new file paths")
    assert(mB.files.forall(f => f.minSeq.isDefined && f.maxSeq.isDefined),
      "rewritten files must carry seq stats for fence pruning")
    assert(ChangeFeed.planFiles(mA, mB).isEmpty,
      "files whose whole seq span is fenced are dropped at PLANNING time")
    // a stats-less file can never be pruned (must be read and row-fenced)
    val statless = mB.files.map(_.copy(minSeq = None, maxSeq = None))
    assert(ChangeFeed.planFiles(mA, mB.copy(files = statless)).nonEmpty,
      "stats-less files are always planned")
  }

  test("streaming tail: micro-batches follow commits; checkpointed " +
      "restart resumes at the committed version") {
    val catDir = tmpDir("cfeed4cat")
    val ckpt = tmpDir("cfeed4ckpt")
    val t = IceTable.create(tmpDir("cfeed4tab"), numBuckets = 2)
    apply(t, 0, 0, 2, ev("i", 1, "r0", "a", "A1"), ev("i", 2, "r1", "b", "B1"))
    GraftCatalog.create(catDir).register("commits", t.dir)
    withCatalog("cf4", catDir) {
      def tail(): Set[(String, Long, String)] = {
        val got = new java.util.concurrent.ConcurrentLinkedQueue[
          (String, Long, String)]()
        val q = spark.readStream.table("cf4.commits.changes")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.collect().foreach(r => got.add((r.getAs[String]("op"),
              r.getAs[Long]("seq"), r.getAs[String]("path"))))
          }
          .option("checkpointLocation", ckpt).start()
        try {
          q.processAllAvailable()
          import scala.jdk.CollectionConverters._
          got.asScala.toSet
        } finally q.stop()
      }
      val first = tail()
      assert(first == Set(("u", 1L, "a"), ("u", 2L, "b")), s"got $first")
      // two more commits while the stream is DOWN; restart must emit
      // exactly the delta (offsets are checkpointed snapshot versions)
      apply(t, 1, 2, 3, ev("u", 3, "r0", "a", "A2"))
      apply(t, 2, 3, 4, ev("d", 4, "r1", "b", ""))
      val second = tail()
      assert(second == Set(("u", 3L, "a"), ("d", 4L, "b")),
        s"restart must resume from the checkpointed version, got $second")
    }
  }

  test("delete committed AND purged inside one feed window still emits " +
      "'d' (synthesized from the removed files); a window starting after " +
      "the delete emits nothing") {
    val catDir = tmpDir("cfeed6cat")
    val t = IceTable.create(tmpDir("cfeed6tab"), numBuckets = 2)
    // origin-anchored claims (lowSeq -1 = seq 0 onward) so the safe
    // horizon can advance and the purge actually fires
    apply(t, 0, -1, 3,
      ev("i", 1, "r0", "a", "A1"),
      ev("i", 2, "r1", "b", "B1"),
      ev("i", 3, "r0", "c", "C1"))
    val vA = t.currentVersion()
    apply(t, 1, 3, 4, ev("d", 4, "r0", "a", "")) // tombstone committed
    val vB = t.currentVersion()
    Compaction.compact(spark, t) // full pass: purges the tombstone (horizon 4)
    val vC = t.currentVersion()
    assert(t.readManifest(vC).purgedBelowSeq >= 4L,
      "compaction must stamp the purge mark it purged at")
    assert(t.readManifest(vB).purgedBelowSeq == Long.MinValue,
      "pre-purge manifests carry no mark")
    GraftCatalog.create(catDir).register("commits", t.dir)
    withCatalog("cf6", catDir) {
      // window spanning BOTH the delete commit and the purge: the key went
      // live→absent with no surviving tombstone row — the synthesized 'd'
      // (NULL seq, NULL payload) is the only correct emission
      val rows = spark.read.option("startingVersion", vA.toString)
        .table("cf6.commits.changes").collect()
        .map(r => (r.getAs[String]("op"), r.getAs[String]("repo"),
          r.getAs[String]("path"),
          if (r.isNullAt(r.fieldIndex("seq"))) -1L else r.getAs[Long]("seq"),
          r.getAs[Long]("_commit_version"))).toSet
      assert(rows == Set(("d", "r0", "a", -1L, vC)),
        s"live→absent key must synthesize a delete, got $rows")
      // window starting AFTER the delete commit: the consumer's start
      // state already excludes the key (it was tombstoned at vB) — the
      // purge is state-preserving from its viewpoint, nothing emits
      assert(spark.read.option("startingVersion", vB.toString)
        .table("cf6.commits.changes").count() == 0L,
        "a purge of an already-seen delete must emit nothing")
    }
  }

  test("admission control: a multi-commit backlog drains in bounded " +
      "batches; checkpointed resume mid-backlog stays exact") {
    val catDir = tmpDir("cfeed7cat")
    val ckpt = tmpDir("cfeed7ckpt")
    val t = IceTable.create(tmpDir("cfeed7tab"), numBuckets = 2)
    def commitN(e: Long): Unit =
      apply(t, e, e, e + 1, ev("i", e + 1, s"r$e", s"p$e", s"C$e"))
    (0L until 6L).foreach(commitN)
    assert(t.currentVersion() == 5L)
    GraftCatalog.create(catDir).register("commits", t.dir)
    withCatalog("cf7", catDir) {
      final case class B(rows: Set[(String, Long)], maxVer: Long)
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[B]()
      def drain(opts: Map[String, String]): Unit = {
        var r = spark.readStream
        opts.foreach { case (k, v) => r = r.option(k, v) }
        val q = r.table("cf7.commits.changes").writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = df.collect()
            if (rows.nonEmpty) batches.add(B(
              rows.map(x => (x.getAs[String]("path"),
                x.getAs[Long]("seq"))).toSet,
              rows.map(_.getAs[Long]("_commit_version")).max))
            ()
          }
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      // one version per trigger: the 6-commit backlog must arrive as 6
      // batches whose _commit_version stamps strictly increase — exact
      // per-commit resolution under maxVersionsPerTrigger=1
      drain(Map("maxVersionsPerTrigger" -> "1"))
      import scala.jdk.CollectionConverters._
      val first = batches.asScala.toSeq
      assert(first.size == 6, s"expected 6 bounded batches, got " +
        s"${first.size}: $first")
      assert(first.map(_.maxVer) == (0L to 5L),
        s"batch end versions must step one commit at a time: $first")
      // mid-backlog resume: four more commits land while the stream is
      // down; restarting from the SAME checkpoint with a files cap drains
      // them in bounded batches, no duplicates, no loss
      batches.clear()
      (6L until 10L).foreach(commitN)
      drain(Map("maxFilesPerTrigger" -> "1"))
      val second = batches.asScala.toSeq
      assert(second.size >= 2, s"a files-capped backlog must split: $second")
      assert(second.flatMap(_.rows).toSet ==
        (6L until 10L).map(e => (s"p$e", e + 1)).toSet,
        s"resume must deliver exactly the new commits: $second")
    }
  }

  test("admission files-cap delivers every backlog commit exactly once") {
    // the admission walk diffs each version's file list against its
    // predecessor's: bounded batches, no duplicates, no loss
    val catDir = tmpDir("cfeed9cat")
    val ckpt = tmpDir("cfeed9ckpt")
    val t = IceTable.create(tmpDir("cfeed9tab"), numBuckets = 2)
    def commitN(e: Long): Unit =
      apply(t, e, e, e + 1, ev("i", e + 1, s"r$e", s"p$e", s"C$e"))
    (0L until 5L).foreach(commitN)
    GraftCatalog.create(catDir).register("commits", t.dir)
    withCatalog("cf9", catDir) {
      val batches =
        new java.util.concurrent.ConcurrentLinkedQueue[Set[(String, Long)]]()
      val q = spark.readStream.option("maxFilesPerTrigger", "1")
        .table("cf9.commits.changes").writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect()
          if (rows.nonEmpty) batches.add(rows.map(x =>
            (x.getAs[String]("path"), x.getAs[Long]("seq"))).toSet)
          ()
        }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      val got = batches.asScala.toSeq
      assert(got.size >= 2, s"a files-capped backlog must split: $got")
      assert(got.flatten.toSet ==
        (0L until 5L).map(e => (s"p$e", e + 1)).toSet,
        s"admission must deliver exactly every commit: $got")
    }
  }

  test("schema drift signal: a running stream keeps its pinned vintage " +
      "and _schema_id exposes the drift; a fresh load picks up the " +
      "evolved schema") {
    val catDir = tmpDir("cfeed8cat")
    val ckpt = tmpDir("cfeed8ckpt")
    val t = IceTable.create(tmpDir("cfeed8tab"), numBuckets = 2)
    apply(t, 0, 0, 1, ev("i", 1, "r0", "a", "A1"))
    GraftCatalog.create(catDir).register("commits", t.dir)
    withCatalog("cf8", catDir) {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
      val q = spark.readStream.table("cf8.commits.changes").writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => seen.add(
            (r.getAs[Long]("seq"), r.getAs[Int]("_schema_id"))))
        }
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        // upstream evolves mid-stream and commits new data
        t.evolveSchema(2)
        apply(t, 1, 1, 2, ev("u", 2, "r0", "a", "A2"))
        q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val rows = seen.asScala.toSet
      // post-evolution rows still arrive (newer-vintage files project back
      // by colId) and still carry the PINNED vintage id — while the
      // table's current schema id has moved: the restart-to-pick-up-drift
      // signal the contract documents
      assert(rows == Set((1L, 1), (2L, 1)), s"got $rows")
      assert(t.currentManifest().get.schemaId == 2)
      // a fresh load pins the evolved schema: new column present, id = 2
      val fresh = spark.sql("SELECT * FROM cf8.commits.changes")
      assert(fresh.columns.contains("sizeBytes"),
        s"fresh feed must expose the evolved column: ${fresh.columns.toSeq}")
      assert(fresh.select("_schema_id").distinct().collect()
        .map(_.getInt(0)).toSeq == Seq(2))
    }
  }

  test("mirror: feeding the batch feed back through the engine " +
      "reproduces the upstream user view") {
    val catDir = tmpDir("cfeed5cat")
    val t = IceTable.create(tmpDir("cfeed5tab"), numBuckets = 4)
    apply(t, 0, 0, 3,
      ev("i", 1, "r0", "a", "A1"),
      ev("i", 2, "r0", "b", "B1"),
      ev("i", 3, "r1", "c", "C1"))
    apply(t, 1, 3, 6,
      ev("u", 4, "r0", "a", "A2"),
      ev("d", 5, "r0", "b", ""),
      ev("i", 6, "r2", "d", "D1"))
    GraftCatalog.create(catDir).register("commits", t.dir)
    withCatalog("cf5", catDir) {
      val feed = spark.sql("SELECT * FROM cf5.commits.changes")
      val evs = feed.collect().map(r => ChangeEvent(
        if (r.getAs[String]("op") == "d") "d" else "u",
        r.getAs[Long]("seq"), r.getAs[String]("repo"),
        r.getAs[String]("path"), r.getAs[String]("commit"),
        r.getAs[String]("lang"), r.getAs[String]("content"))).toSeq
      val mirror = IceTable.create(tmpDir("cfeed5mir"), numBuckets = 4)
      MergeEngine.applyEpoch(spark, mirror, evs.toDS(), epochId = 0,
        nLogPartitions = 2, claimedRange = Some((0L, 6L)))
      val up = t.read(spark).collect().toSet
      val down = mirror.read(spark).collect().toSet
      assert(down == up, s"mirror view must equal upstream:\n$down\nvs $up")
    }
  }
}
