package graft

import graft.driver.ReplayJob
import graft.log.{ChangeLogGen, LogSpec, OracleFold}
import graft.table.{IceTable, SchemaRegistry}
import org.apache.spark.sql.functions._

/** FIXTURES.md §4: scripted schema versions applied mid-log via the
  * registry resolver; old files stay readable (column-id projection) and
  * sha256 parity holds across every evolution step. */
class SchemaEvolutionSpec extends SparkSpec {

  val spec = LogSpec(seed = 7L, nEvents = 4000, nRepos = 10, nPathsPerRepo = 20)

  private def shaState(t: IceTable): Map[(String, String), String] =
    t.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  private val oracle: Map[(String, String), String] =
    OracleFold.fold(ChangeLogGen.generateLocal(spec))
      .map { case (k, v) => k -> v.contentSha }

  test("add / rename / widen mid-log: old rows readable, sha parity holds") {
    val t = IceTable.create(tmpDir("evo"), numBuckets = 4)
    // epoch 0+1 under schema 1
    ReplayJob.replayGenerated(spark, t, spec.copy(nEvents = 2000), nEpochs = 2,
      nLogPartitions = 4)
    assert(t.currentManifest().get.schemaId == 1)

    // evolve: add sizeBytes (v2) — metadata-only commit
    val vBefore = t.currentVersion()
    t.evolveSchema(2)
    assert(t.currentVersion() == vBefore + 1)
    assert(t.currentManifest().get.files ==
      t.readManifest(vBefore).files, "evolution must not rewrite data")
    val withSize = t.read(spark)
    assert(withSize.columns.contains("sizeBytes"))
    assert(withSize.filter(col("sizeBytes").isNotNull).count() == 0)

    // rename lang → language (v3), widen sizeBytes (v4)
    t.evolveSchema(3)
    assert(t.read(spark).columns.contains("language"))
    assert(!t.read(spark).columns.contains("lang"))
    t.evolveSchema(4)
    assert(t.read(spark).schema("sizeBytes").dataType ==
      org.apache.spark.sql.types.LongType)
    // language values survived the rename (values came from old 'lang' files)
    assert(t.read(spark).filter(col("language").isNull).count() == 0)

    // continue the SAME log under the evolved schema: epochs write v4 files,
    // old v1 files still referenced and projected — mixed-schema snapshot
    val cdf = ChangeLogGen.zipfCdf(spec.nRepos, spec.zipfExponent)
    val sp = spec
    import spark.implicits._
    val rest = (2L, 1999L, 3999L)
    ReplayJob.run(spark, t,
      _ => spark.range(2000, 4000).map(s => ChangeLogGen.eventAt(sp, cdf, s)),
      Seq(rest), nLogPartitions = 4)
    val m = t.currentManifest().get
    assert(m.schemaId == 4)

    assert(shaState(t) == oracle, "sha parity must hold across evolution")
  }

  test("aligned scan merges mixed-schema files correctly (claimed partitioning)") {
    // same mid-log evolution, but the CoW target is read through the
    // claimed-partitioning bucket scan (every merge onto a non-empty
    // target): v1-written files must evolve to v4 per group and line up
    // positionally.
    val t = IceTable.create(tmpDir("evoal"), numBuckets = 4)
    ReplayJob.replayGenerated(spark, t, spec.copy(nEvents = 2000),
      nEpochs = 2, nLogPartitions = 4)
    t.evolveSchema(2); t.evolveSchema(3); t.evolveSchema(4)
    val cdf = ChangeLogGen.zipfCdf(spec.nRepos, spec.zipfExponent)
    val sp = spec
    import spark.implicits._
    ReplayJob.run(spark, t,
      _ => spark.range(2000, 4000).map(s => ChangeLogGen.eventAt(sp, cdf, s)),
      Seq((2L, 1999L, 3999L)), nLogPartitions = 4)
    assert(t.currentManifest().get.schemaId == 4)
    assert(shaState(t) == oracle,
      "sha parity must hold through the aligned mixed-schema merge")
    assert(t.read(spark).filter(col("language").isNull).count() == 0)
  }

  test("an evolved merge rewrites a touched bucket's old-vintage files into " +
      "one file") {
    import spark.implicits._
    import graft.model._
    // two key-range-disjoint v1 files in one bucket: a winner in the a-range
    // rewrites the whole bucket, both files, into one v4 file
    val t = IceTable.create(tmpDir("evoskip"), numBuckets = 1)
    def rows(keys: Seq[String]) = keys.map(k => ("r", k, "c" * 40, "scala",
        s"v$k", OracleFold.sha256Hex(s"v$k")))
      .toDF("repo", "path", "commit", "lang", "content", "contentSha")
      .withColumn("bucket", t.bucketCol(col("repo"), col("path")))
      .withColumn("lastSeq", lit(10L))
      .withColumn("deleted", lit(false))
    val fa = t.writeEpochFiles(rows((0 until 40).map(i => f"a$i%02d")), 0)
    val fz = t.writeEpochFiles(rows((0 until 40).map(i => f"z$i%02d")), 1)
    t.commit(EpochManifest(0, 1, 1, (fa ++ fz).sortBy(_.path),
      (0 until 2).map(p => OffsetRange(p, -1L, 10L)),
      EpochStats(80, 0, 0, 80, 0, 0), -1L, completeUntilSeq = 10L,
      numBuckets = 1))
    t.evolveSchema(2); t.evolveSchema(3); t.evolveSchema(4)

    val hit = "a07"
    graft.merge.MergeEngine.applyEpoch(spark, t,
      Seq(ChangeEvent("u", 11L, "r", hit, "c" * 40, "scala", "NEW")).toDS(),
      2, nLogPartitions = 2, claimedRange = Some((10L, 11L)))

    val m = t.currentManifest().get
    assert(m.schemaId == 4)
    assert(m.files.size == 1,
      s"the touched bucket must end as one file: ${m.files.map(_.path)}")
    assert((fa ++ fz).forall(f => !m.files.map(_.path).contains(f.path)),
      "neither v1 file may be listed, key-range-disjoint or not")
    assert(m.files.map(_.schemaId).toSet == Set(4),
      "the rewritten bucket must be written under v4")
    val view = t.read(spark)
    assert(view.count() == 80)
    assert(view.filter(col("path") === hit).head()
      .getAs[String]("content") == "NEW")
    assert(view.filter(col("language").isNull).count() == 0,
      "the v1 rows must project lang -> language into the v4 file")
  }

  test("snapshot can mix files of different schema generations") {
    import spark.implicits._
    import graft.model.ChangeEvent
    val t = IceTable.create(tmpDir("evo-mix"), numBuckets = 8)
    // 8 keys spread across buckets, written under schema 1
    val base = (0 until 8).map(i =>
      ChangeEvent("i", i.toLong, s"r$i", s"p$i", f"c$i%040d", "scala", s"v$i"))
    ReplayJob.run(spark, t, _ => base.toDS(), Seq((0L, -1L, 7L)),
      nLogPartitions = 4)
    t.evolveSchema(2); t.evolveSchema(3); t.evolveSchema(4)
    // update ONE key: only its bucket is rewritten under schema 4
    val upd = Seq(ChangeEvent("u", 100L, "r0", "p0", "c" * 40, "java", "v0new"))
    ReplayJob.run(spark, t, _ => upd.toDS(), Seq((1L, 7L, 100L)),
      nLogPartitions = 4)
    val m = t.currentManifest().get
    assert(m.schemaId == 4)
    assert(m.files.map(_.schemaId).toSet == Set(1, 4),
      "snapshot must reference files of both schema generations")
    val rows = t.read(spark)
    assert(rows.filter(col("repo") === "r0").select("language")
      .as[String].head() == "java")
    assert(rows.filter(col("repo") === "r1").select("language")
      .as[String].head() == "scala", "old-schema file must project language")
    assert(rows.count() == 8)
  }

  test("illegal evolutions are rejected (drop / narrow)") {
    val v4 = SchemaRegistry.schemaFor(4)
    val dropped = v4.copy(id = 99,
      columns = v4.columns.filterNot(_.name == "content"))
    intercept[IllegalArgumentException] {
      SchemaRegistry.validateEvolution(v4, dropped)
    }
    val narrowed = v4.copy(id = 98, columns = v4.columns.map(c =>
      if (c.name == "sizeBytes") c.copy(dataType = "int") else c))
    intercept[IllegalArgumentException] {
      SchemaRegistry.validateEvolution(v4, narrowed)
    }
  }

  test("evolution projection maps by colId, not by name") {
    import spark.implicits._
    // one file written under schema 1 (lang, no sizeBytes), read at 4
    val t = IceTable.create(tmpDir("evoproj"), numBuckets = 1)
    val v1 = t.writeEpochFiles(Seq(("r", "p", "c", "scala", "body", "sha",
        5L, false, 0))
      .toDF("repo", "path", "commit", "lang", "content", "contentSha",
        "lastSeq", "deleted", "bucket"), 0L)
    assert(v1.map(_.schemaId) == Seq(1))
    val out = t.readFiles(spark, v1, 4)
    assert(out.columns.toSeq ==
      Seq("repo", "path", "commit", "language", "content", "contentSha",
        "sizeBytes", "bucket", "lastSeq", "deleted"))
    assert(out.schema("sizeBytes").dataType ==
      org.apache.spark.sql.types.LongType)
    val row = out.head()
    assert(row.getAs[String]("language") == "scala")
    assert(row.isNullAt(row.fieldIndex("sizeBytes")))
    assert(row.getAs[Long]("lastSeq") == 5L)
  }

  test("schema drift in a batch evolves the table before merge (injector analog)") {
    import spark.implicits._
    import graft.model.ChangeEvent
    import graft.table.SchemaDrift
    val t = IceTable.create(tmpDir("drift"), numBuckets = 2)
    // base batch at schema 1
    val b1 = Seq(ChangeEvent("i", 0, "r", "a", "c" * 40, "scala", "v0")).toDS()
    ReplayJob.run(spark, t, _ => b1, Seq((0L, -1L, 0L)), nLogPartitions = 2)
    assert(t.currentManifest().get.schemaId == 1)
    // next batch carries schemaId=3 events → table steps 1→2→3 pre-merge
    val b2 = Seq(ChangeEvent("u", 5, "r", "a", "d" * 40, "java", "v5")).toDS()
      .withColumn("schemaId", org.apache.spark.sql.functions.lit(3))
    val ended = SchemaDrift.sync(t, b2)
    assert(ended == 3)
    assert(t.currentManifest().get.schemaId == 3)
    ReplayJob.run(spark, t, _ => b2.drop("schemaId").as[ChangeEvent],
      Seq((1L, 0L, 5L)), nLogPartitions = 2)
    val row = t.read(spark).head()
    assert(row.getAs[String]("language") == "java") // renamed col, new data
    // stale / absent / unknown drift cases
    assert(SchemaDrift.sync(t, b1.toDF()) == 3)              // no schemaId col
    assert(SchemaDrift.sync(t, b2) == 3)                     // at current
    intercept[IllegalArgumentException] {
      SchemaDrift.sync(t, b2.withColumn("schemaId",
        org.apache.spark.sql.functions.lit(99)))
    }
  }
}
