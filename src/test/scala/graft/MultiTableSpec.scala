package graft

import graft.driver.MultiTableIngest
import graft.driver.MultiTableIngest.DatasetRoute
import graft.log.{ChangeLogGen, LogSpec, OracleFold}
import graft.merge.MergeEngine
import graft.pipeline.TaskPolicies
import graft.table.IceTable
import org.apache.spark.sql.functions._

class MultiTableSpec extends SparkSpec {
  import spark.implicits._

  val spec = LogSpec(seed = 55L, nEvents = 6000, nRepos = 9,
    nPathsPerRepo = 20, pDelete = 0.08)

  private def shaState(t: IceTable) =
    t.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  test("per-dataset routing: union of tables equals the oracle; isolation holds") {
    val routes = (0 until 3).map(i =>
      DatasetRoute(s"org$i", col("repo").startsWith(s"org$i") ||
        col("repo").startsWith(s"org${i + 3}") ||
        col("repo").startsWith(s"org${i + 6}"),
        IceTable.create(tmpDir(s"mt$i"), numBuckets = 4)))
    val sp = spec
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    val per = sp.nEvents / 3
    (0 until 3).foreach { e =>
      val lo = e * per - 1
      val hi = if (e == 2) sp.nEvents - 1 else (e + 1) * per - 1
      val slice = spark.range(lo + 1, hi + 1)
        .map(s => ChangeLogGen.eventAt(sp, cdf, s))
      val outs = MultiTableIngest.applyEpoch(spark, routes, slice, e,
        nLogPartitions = 4, claimedRange = Some((lo, hi)))
      assert(outs.forall(_.outcome.isRight))
    }
    val union = routes.map(r => shaState(r.table)).reduce(_ ++ _)
    val oracle = OracleFold.fold(ChangeLogGen.generateLocal(sp))
      .map { case (k, v) => k -> v.contentSha }
    assert(union == oracle)
    // disjoint routing: no key lands in two tables
    val sizes = routes.map(r => shaState(r.table).size)
    assert(sizes.sum == oracle.size)
    assert(sizes.forall(_ > 0))
  }


  test("dynamic dataset discovery: a mid-stream dataset joins at runtime") {
    import graft.model.ChangeEvent
    // the InfiniteSource / topic-pattern analog: epoch 0 carries only
    // datasets a and b; epoch 1 introduces c, whose table must be created
    // on the fly and join the commit cycle without disturbing a/b.
    val root = tmpDir("dyn")
    def ev(ds: String, i: Int, seq: Long) = ChangeEvent("i", seq,
      s"$ds/r", s"p$i", f"$seq%040d", "scala", s"v-$ds-$seq")
    val dsCol = split(col("repo"), "/").getItem(0)
    val e0 = (0 until 10).map(i => ev(if (i % 2 == 0) "a" else "b", i, i.toLong))
    val (out0, t0) = MultiTableIngest.applyEpochDynamic(spark, root,
      Map.empty, dsCol, e0.toDS(), 0L, nLogPartitions = 2,
      claimedRange = Some((-1L, 9L)), numBuckets = 2)
    assert(t0.keySet == Set("a", "b"))
    assert(out0.forall(_.outcome.isRight))
    // epoch 1: dataset c appears mid-stream
    val e1 = (10 until 16).map(i => ev(Seq("a", "c")(i % 2), i, i.toLong))
    val (out1, t1) = MultiTableIngest.applyEpochDynamic(spark, root,
      t0, dsCol, e1.toDS(), 1L, nLogPartitions = 2,
      claimedRange = Some((9L, 15L)), numBuckets = 2)
    assert(t1.keySet == Set("a", "b", "c"), "runtime-discovered dataset")
    assert(out1.forall(_.outcome.isRight))
    assert(t1("c").currentVersion() == 0 && t1("c").read(spark).count() == 3)
    assert(t1("b").currentVersion() == 0, "absent dataset stays untouched")
    assert(t1("a").read(spark).count() == 5 + 3)
    // tables are independently replayable: re-applying epoch 1 is fenced
    val (out2, _) = MultiTableIngest.applyEpochDynamic(spark, root,
      t1, dsCol, e1.toDS(), 2L, nLogPartitions = 2,
      claimedRange = Some((9L, 15L)), numBuckets = 2)
    assert(out2.filter(o => Set("a", "c")(o.name))
      .forall(_.outcome.toOption.exists(_.skipped)))
  }

  test("a failing dataset aborts alone; others commit (SafeDatasetCommit)") {
    val good = DatasetRoute("good", col("repo").startsWith("org"),
      IceTable.create(tmpDir("mtg"), numBuckets = 4))
    // a route whose task policy can never pass → per-dataset abort
    val badTable = IceTable.create(tmpDir("mtb"), numBuckets = 4)
    val events = (0 until 100).map(i =>
      graft.model.ChangeEvent("u", i.toLong, s"org${i % 3}", s"p$i",
        f"c$i%040d", "scala", s"v$i")).toDS()
    val goodOut = MergeEngine.applyEpoch(spark, good.table, events, 0,
      nLogPartitions = 4)
    assert(!goodOut.skipped)
    intercept[TaskPolicies.EpochAbortedException] {
      MergeEngine.applyEpoch(spark, badTable, events, 0, nLogPartitions = 4,
        taskPolicies = Seq(TaskPolicies.MinRowsPolicy(minRows = 1000000,
          severity = TaskPolicies.Fail)))
    }
    assert(good.table.currentVersion() == 0L)
    assert(badTable.currentVersion() == -1L, "failed dataset must not commit")
  }

  test("catalog: a second session discovers and reads a table by NAME") {
    import graft.model.ChangeEvent
    import graft.table.GraftCatalog
    val cat = GraftCatalog.create(tmpDir("cat"))
    val dir = tmpDir("catT")
    val t = IceTable.create(dir, numBuckets = 4)
    val events = (0 until 50).map(i => ChangeEvent("i", i.toLong,
      s"org${i % 3}", s"p$i", f"c$i%040d", "scala", s"v$i")).toDS()
    MergeEngine.applyEpoch(spark, t, events, 0, nLogPartitions = 4)
    cat.register("commits", dir, defaultNumBuckets = 4)

    // a FRESH session (own state, no temp views, no path handed in) finds
    // the table by name through the shared catalog directory alone
    val s2 = spark.newSession()
    val t2 = GraftCatalog.create(cat.dir).loadView(s2, "commits")
    assert(t2.numBuckets == 4, "handle params travel through the catalog")
    assert(s2.sql("SELECT count(*) FROM commits").head().getLong(0) == 50L)
    assert(t2.read(s2).select("path").as[String].collect().toSet ==
      (0 until 50).map(i => s"p$i").toSet)
    assert(!spark.catalog.tableExists("commits"),
      "view registration is session-scoped; the origin session is untouched")

    // idempotent re-register burns no catalog version
    val v = cat.currentVersion()
    cat.register("commits", dir, defaultNumBuckets = 4)
    assert(cat.currentVersion() == v)

    // concurrent registrars: CAS losers re-read + retry, nothing is lost
    val names = (0 until 6).map(i => s"t$i")
    val threads = names.map { n =>
      val th = new Thread(() => { cat.register(n, dir, 4); () }); th.start(); th
    }
    threads.foreach(_.join())
    assert(cat.tables().keySet == (names.toSet + "commits"))
    assert(cat.unregister("t0") && !cat.tables().contains("t0"))
    assert(!cat.unregister("t0"), "double unregister reports absence")
  }

  test("catalog: entries carrying retired handle params still load") {
    import graft.model.ChangeEvent
    import graft.table.GraftCatalog
    val catDir = tmpDir("catOld")
    val dir = tmpDir("catOldT")
    val t = IceTable.create(dir, numBuckets = 4)
    val events = (0 until 20).map(i => ChangeEvent("i", i.toLong,
      s"org${i % 3}", s"p$i", f"c$i%040d", "scala", s"v$i")).toDS()
    MergeEngine.applyEpoch(spark, t, events, 0, nLogPartitions = 4)
    // a catalog written when entries also recorded the two-level manifest
    // params (inlineFileThreshold, segChunkBuckets)
    java.nio.file.Files.write(java.nio.file.Paths.get(catDir, "cat-00000000.json"),
      s"""[ { "name" : "commits", "dir" : "$dir", "defaultNumBuckets" : 4,
         |  "inlineFileThreshold" : 1024, "segChunkBuckets" : 128 } ]"""
        .stripMargin.getBytes("UTF-8"))
    val cat = GraftCatalog.create(catDir)
    assert(cat.entry("commits").contains(GraftCatalog.Entry("commits", dir, 4)))
    val t1 = cat.load("commits")
    assert(t1.dir == dir && t1.numBuckets == 4)
    assert(t1.read(spark).count() == 20L)
    val s2 = spark.newSession()
    val t2 = cat.loadView(s2, "commits")
    assert(t2.dir == dir && t2.numBuckets == 4)
    assert(s2.sql("SELECT count(*) FROM commits").head().getLong(0) == 20L)
    // re-registering the same table is still a no-op
    cat.register("commits", dir, defaultNumBuckets = 4)
    assert(cat.currentVersion() == 0L)
  }
}
