package graft

import graft.driver.ReplayJob
import graft.log.OracleFold
import graft.merge.MergeEngine
import graft.model._
import graft.table.{BucketScan, FileStats, IceTable, ManifestJson}
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType}

/** Per-file footer stats in the manifest and the reads they prune
  * (Iceberg-metrics-style): seq bounds for incremental `readChangesSince`.
  * A point lookup reads its key's bucket's files; the merge prunes no file:
  * a touched bucket is rewritten whole. Also time-based retention and the
  * bounded footer-read pool. */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def commit40 = "c" * 40

  private def rows(t: IceTable, keys: Seq[String], seqBase: Long,
                   value: String => String = k => s"v$k") =
    keys.map(k => ("r", k, commit40, "scala", value(k),
        OracleFold.sha256Hex(value(k))))
      .toDF("repo", "path", "commit", "lang", "content", "contentSha")
      .withColumn("bucket", t.bucketCol(col("repo"), col("path")))
      .withColumn("lastSeq", lit(seqBase))
      .withColumn("deleted", lit(false))

  private def offsets2(hi: Long): Seq[OffsetRange] =
    (0 until 2).map(p => OffsetRange(p, -1L, hi))

  private def shaState(t: IceTable): Map[String, String] =
    t.read(spark).select("path", "contentSha").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

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

  /** 40 keys of repo "r" written under schema 1, then evolved to 4 (rename
    * lang -> language, widen sizeBytes int -> long); k00 is updated and k01
    * deleted afterwards, so their buckets are rewritten as v4 files (k01's
    * holding its tombstone) while the other buckets keep their v1 files. */
  private def mixedVintage(name: String): IceTable = {
    val t = IceTable.create(tmpDir(name), numBuckets = 4)
    val base = (0 until 40).map(i =>
      ChangeEvent("i", i.toLong, "r", f"k$i%02d", commit40, "scala", s"v$i"))
    ReplayJob.run(spark, t, _ => base.toDS(), Seq((0L, -1L, 39L)),
      nLogPartitions = 2)
    t.evolveSchema(2); t.evolveSchema(3); t.evolveSchema(4)
    val upd = Seq(
      ChangeEvent("u", 100L, "r", "k00", commit40, "java", "v0new"),
      ChangeEvent("d", 101L, "r", "k01", commit40, "scala", ""))
    ReplayJob.run(spark, t, _ => upd.toDS(), Seq((1L, 39L, 101L)),
      nLogPartitions = 2)
    val m = t.currentManifest().get
    assert(m.schemaId == 4 && m.files.map(_.schemaId).toSet == Set(1, 4),
      s"fixture must mix v1 and v4 files: ${m.files}")
    t
  }

  /** `lookup` runs no Spark job and answers exactly as `read` filtered to
    * the key does: same schema, same rows. */
  private def assertLookupAsRead(t: IceTable, repo: String,
      path: String): Array[org.apache.spark.sql.Row] = {
    val (df, buildJobs) = jobsDuring(t.lookup(spark, repo, path))
    val (got, collectJobs) = jobsDuring(df.collect())
    assert(buildJobs + collectJobs == 0,
      s"($repo, $path): lookup ran $buildJobs + $collectJobs Spark jobs")
    val want: DataFrame =
      t.read(spark).filter(col("repo") === repo && col("path") === path)
    assert(df.schema == want.schema, s"($repo, $path): schema")
    assert(got.toSeq == want.collect().toSeq, s"($repo, $path): rows")
    got
  }

  /** The committed snapshot json of version `v`. */
  private def snapJson(dir: String, v: Long): String =
    new String(Files.readAllBytes(Paths.get(f"$dir/meta/snap-$v%08d.json")),
      "UTF-8")

  test("manifest entries carry footer stats (rows and seq bounds, no key " +
      "bounds)") {
    val dir = tmpDir("stats")
    val t = IceTable.create(dir, numBuckets = 4)
    val fs = t.writeEpochFiles(rows(t, (0 until 40).map(i => f"p$i%02d"), 7L), 0)
    assert(fs.nonEmpty)
    fs.foreach { f =>
      assert(f.rows > 0, s"rows must be footer-filled: $f")
      assert(f.minSeq.contains(7L) && f.maxSeq.contains(7L))
    }
    assert(fs.map(_.rows).sum == 40L)
    t.commit(EpochManifest(0, 0, 1, fs, offsets2(7L),
      EpochStats(40, 0, 0, 40, 0, 0), -1L, completeUntilSeq = 7L,
      numBuckets = 4))
    val json = snapJson(dir, 0L)
    assert(json.contains("\"maxSeq\"") && !json.contains("minKey") &&
      !json.contains("maxKey"), s"snapshot must hold no key bounds: $json")
  }

  test("a touched bucket is rewritten whole into one file, whatever its " +
      "files' key ranges") {
    val t = IceTable.create(tmpDir("krange"), numBuckets = 1)
    val aKeys = (0 until 50).map(i => f"a$i%02d")
    val zKeys = (0 until 50).map(i => f"z$i%02d")
    val fa = t.writeEpochFiles(rows(t, aKeys, 10L), 0)
    val fz = t.writeEpochFiles(rows(t, zKeys, 10L), 1)
    t.commit(EpochManifest(0, 1, 1, (fa ++ fz).sortBy(_.path), offsets2(10L),
      EpochStats(100, 0, 0, 100, 0, 0), -1L, completeUntilSeq = 10L,
      numBuckets = 1))
    val before = shaState(t)

    val ev = Seq(ChangeEvent("u", 11L, "r", "a05", commit40, "scala", "NEW"))
    MergeEngine.applyEpoch(spark, t, ev.toDS(), 2,
      nLogPartitions = 2, claimedRange = Some((10L, 11L)))
    val m = t.currentManifest().get
    assert(m.files.size == 1,
      s"the touched bucket must end as one file: ${m.files.map(_.path)}")
    assert((fa ++ fz).forall(f => !m.files.map(_.path).contains(f.path)),
      "neither old file may be listed, key-range-disjoint or not")
    assert(shaState(t) == before.updated("a05", OracleFold.sha256Hex("NEW")))
  }

  test("readChangesSince prunes files by seq stats and returns the delta") {
    val t = IceTable.create(tmpDir("since"), numBuckets = 4)
    val evs = (0 until 40).map(i =>
      ChangeEvent("i", i + 1L, "r", f"k$i%02d", commit40, "scala", s"v$i"))
    MergeEngine.applyEpoch(spark, t, evs.toDS(), 0, nLogPartitions = 2,
      claimedRange = Some((0L, 40L)))
    val ev2 = Seq(ChangeEvent("u", 41L, "r", "k03", commit40, "scala", "NEW"))
    MergeEngine.applyEpoch(spark, t, ev2.toDS(), 1, nLogPartitions = 2,
      claimedRange = Some((40L, 41L)))

    val m = t.currentManifest().get
    val touched = t.filesTouchedSince(m.files, 40L)
    assert(touched.size < m.files.size,
      s"stats pruning must drop epoch-0 buckets (kept ${touched.size} of " +
        s"${m.files.size})")
    val delta = t.readChangesSince(spark, 40L).collect()
    assert(delta.length == 1)
    val r = delta.head
    assert(r.getAs[String]("path") == "k03" &&
      r.getAs[Long]("lastSeq") == 41L &&
      r.getAs[String]("content") == "NEW")
  }

  test("point lookup: the key's bucket's files, exact row") {
    val t = IceTable.create(tmpDir("lkp"), numBuckets = 8)
    val keys = (0 until 200).map(i => f"p$i%03d")
    val fs = t.writeEpochFiles(rows(t, keys, 5L), 0)
    t.commit(EpochManifest(0, 0, 1, fs, offsets2(5L),
      EpochStats(200, 0, 0, 200, 0, 0), -1L, completeUntilSeq = 5L,
      numBuckets = 8))
    val m = t.currentManifest().get

    // driver-side bucketOf must replicate Spark's xxhash64 bucketing exactly
    val viaSpark = rows(t, keys, 5L)
      .select(col("path"), t.bucketCol(col("repo"), col("path")).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    keys.foreach(k => assert(t.bucketOf("r", k) == viaSpark(k),
      s"bucketOf diverges from Spark xxhash64 for $k"))

    keys.take(25).foreach { k =>
      val cand = t.lookupFiles(spark, m, "r", k)
      val bucketFiles = m.files.filter(_.bucket == t.bucketOf("r", k))
      assert(cand.nonEmpty && cand == bucketFiles,
        s"$k: candidates must be the key's bucket's files " +
          s"(${cand.map(_.path)} vs ${bucketFiles.map(_.path)})")
      val row = t.lookup(spark, "r", k).collect()
      assert(row.length == 1 && row.head.getAs[String]("content") == s"v$k")
    }
    assert(t.lookup(spark, "r", "missing").isEmpty)
  }

  test("every file of the key's bucket is a lookup candidate; lookups stay " +
      "exact") {
    // two epochs write INTERLEAVED key sets into the same bucket: a lookup
    // reads both files and the pushed key predicate finds the row
    val t = IceTable.create(tmpDir("ovl"), numBuckets = 1)
    val even = (0 until 200 by 2).map(i => f"k$i%03d")
    val odd = (1 until 200 by 2).map(i => f"k$i%03d")
    val f0 = t.writeEpochFiles(rows(t, even, 5L), 0)
    val f1 = t.writeEpochFiles(rows(t, odd, 6L), 1)
    t.commit(EpochManifest(0, 1, 1, f0 ++ f1, offsets2(6L),
      EpochStats(200, 0, 0, 200, 0, 0), -1L, completeUntilSeq = 6L,
      numBuckets = 1))
    val m = t.currentManifest().get

    Seq("k004", "k007", "k100a", "zz").foreach { k =>
      assert(t.lookupFiles(spark, m, "r", k) == m.files,
        s"$k: every file of the bucket must be a candidate")
    }
    Seq("k004", "k007").foreach { k =>
      val row = t.lookup(spark, "r", k).collect()
      assert(row.length == 1 && row.head.getAs[String]("content") == s"v$k")
    }
    Seq("k100a", "zz").foreach(k => assert(t.lookup(spark, "r", k).isEmpty))
  }

  test("point lookup runs no Spark job and equals read().filter on a " +
      "mixed-vintage table: present, tombstoned, absent keys; legacy " +
      "entries; empty table") {
    val empty = IceTable.create(tmpDir("lkpempty"), numBuckets = 4)
    assert(assertLookupAsRead(empty, "r", "k00").isEmpty)

    val t = mixedVintage("lkpjobs")
    val m = t.currentManifest().get
    def vintageOf(path: String): Int =
      t.lookupFiles(spark, m, "r", path).map(_.schemaId).distinct match {
        case Seq(sid) => sid
        case other => fail(s"$path: candidate vintages $other")
      }
    // a key still in a v1 file must come back evolved (language, sizeBytes)
    val v1Key = (2 until 40).map(i => f"k$i%02d").find(vintageOf(_) == 1).get
    assert(t.readRaw(spark).filter(col("path") === "k01" && col("deleted"))
      .count() == 1, "k01 must be a stored tombstone")
    // absent keys: one between stored keys, one above all of them; each
    // reads its bucket's files and finds nothing
    val absent = Seq("k00a", "zz")

    def checkAll(tbl: IceTable): Unit = {
      val old = assertLookupAsRead(tbl, "r", v1Key)
      assert(old.length == 1 && old.head.getAs[String]("language") == "scala"
        && old.head.isNullAt(old.head.fieldIndex("sizeBytes")))
      val upd = assertLookupAsRead(tbl, "r", "k00")
      assert(upd.length == 1 && upd.head.getAs[String]("content") == "v0new"
        && upd.head.getAs[String]("language") == "java")
      assert(assertLookupAsRead(tbl, "r", "k01").isEmpty)
      absent.foreach(k => assert(assertLookupAsRead(tbl, "r", k).isEmpty))
      (0 until 40).foreach(i => assertLookupAsRead(tbl, "r", f"k$i%02d"))
    }
    checkAll(t)

    // legacy entries record bytes = -1: the reader resolves the length
    t.commit(m.copy(version = m.version + 1,
      files = m.files.map(_.copy(bytes = -1L)), parentVersion = m.version))
    assert(t.currentManifest().get.files.forall(_.bytes == -1L))
    checkAll(t)
  }

  test("readFiles declares each vintage's schema: inference's schema and " +
      "rows, no Spark job") {
    val t = mixedVintage("rfschema")
    val m = t.currentManifest().get
    def sortedRows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // columns by name: readFiles puts bucket before lastSeq and deleted,
    // partition inference appends it
    def types(df: DataFrame): Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    // the oracle: what schema inference reads from each vintage's footers,
    // evolved to the table schema (4) by hand
    val toV4: Map[Int, Seq[Column]] = Map(
      1 -> Seq(col("lang").as("language"),
        lit(null).cast(LongType).as("sizeBytes")),
      4 -> Seq(col("language"), col("sizeBytes")))
    val inferredGroups = m.files.groupBy(_.schemaId).toSeq.sortBy(_._1).map {
      case (sid, fl) =>
        val basePath = new org.apache.hadoop.fs.Path(fl.head.path)
          .getParent.getParent.toString
        val inferred = spark.read.option("basePath", basePath)
          .parquet(fl.map(_.path): _*)
        val (declared, jobs) = jobsDuring(t.readFiles(spark, fl, sid))
        assert(jobs == 0, s"v$sid: building readFiles ran $jobs Spark jobs")
        assert(types(declared) == types(inferred), s"v$sid: columns")
        assert(sortedRows(declared) ==
          sortedRows(inferred.select(declared.columns.map(col): _*)),
          s"v$sid: rows")
        val Seq(language, sizeBytes) = toV4(sid)
        inferred.select(col("repo"), col("path"), col("commit"), language,
          col("content"), col("contentSha"), sizeBytes, col("bucket"),
          col("lastSeq"), col("deleted"))
    }
    val viaInference = inferredGroups.reduce(_.unionByName(_))
    val (whole, jobs) = jobsDuring(t.readFiles(spark, m.files, m.schemaId))
    assert(jobs == 0, s"building the mixed readFiles ran $jobs Spark jobs")
    assert(whole.columns.toSeq == viaInference.columns.toSeq)
    assert(types(whole) == types(viaInference))
    assert(sortedRows(whole) == sortedRows(viaInference))
    assert(whole.filter(!coalesce(col("deleted"), lit(false))).count() == 39)
  }

  test("read, readAt and readChangesSince keep their user schemas and " +
      "rows on a mixed-vintage table") {
    val t = mixedVintage("userschema")
    def cols(df: DataFrame): Seq[(String, DataType)] =
      df.schema.fields.toSeq.map(f => f.name -> f.dataType)
    val user = Seq("repo", "path", "commit", "language", "content",
      "contentSha").map(_ -> StringType) :+ ("sizeBytes" -> LongType)
    val physical = Seq("bucket" -> IntegerType, "lastSeq" -> LongType,
      "deleted" -> BooleanType)
    def contents(df: DataFrame): Map[String, (String, String)] =
      df.collect().map(r => r.getAs[String]("path") ->
        (r.getAs[String]("language"), r.getAs[String]("content"))).toMap
    val expected = (2 until 40).map(i => f"k$i%02d" -> ("scala", s"v$i"))
      .toMap + ("k00" -> ("java", "v0new"))

    val now = t.read(spark)
    assert(cols(now) == user)
    assert(contents(now) == expected)
    assert(now.filter(col("sizeBytes").isNotNull).isEmpty)
    // the version before the update epoch: every row still in a v1 file
    val before = t.readAt(spark, t.currentVersion() - 1)
    assert(cols(before) == user)
    assert(contents(before) == (0 until 40).map(i =>
      f"k$i%02d" -> ("scala", s"v$i")).toMap)
    val changes = t.readChangesSince(spark, 39L)
    assert(cols(changes) == user ++ physical)
    assert(changes.collect().map(r => (r.getAs[String]("path"),
      r.getAs[Long]("lastSeq"), r.getAs[Boolean]("deleted"))).toSet ==
      Set(("k00", 100L, false), ("k01", 101L, true)))
  }

  test("age-based retention expires old snapshots, keeps readers unaffected") {
    val t = IceTable.create(tmpDir("ret"), numBuckets = 2)
    def commitGen(v: Long, keys: Seq[String], seq: Long): Unit = {
      val fs = t.writeEpochFiles(rows(t, keys, seq), v)
      val parent = t.currentManifest()
      t.commit(EpochManifest(v, v, 1, fs, offsets2(seq),
        EpochStats(keys.size, 0, 0, keys.size, 0, 0),
        parent.map(_.version).getOrElse(-1L), completeUntilSeq = seq,
        numBuckets = 2))
    }
    commitGen(0, Seq("a"), 1L)
    commitGen(1, Seq("a", "b"), 2L)
    Thread.sleep(80)
    val cut = System.currentTimeMillis()
    Thread.sleep(20)
    commitGen(2, Seq("a", "b", "c"), 3L)

    // history + time travel by WALL CLOCK off the stamped commit times
    val hist = t.history()
    assert(hist.map(_.version) == Seq(0L, 1L, 2L))
    assert(hist.map(_.commitTimeMillis) == hist.map(_.commitTimeMillis).sorted
      && hist.forall(_.commitTimeMillis > 0))
    assert(t.versionAsOf(cut).contains(1L))
    assert(t.readAsOfTime(spark, cut).select("path").collect()
      .map(_.getString(0)).toSet == Set("a", "b"))
    intercept[IllegalArgumentException] {
      t.readAsOfTime(spark, hist.head.commitTimeMillis - 1)
    }

    // age alone is not enough when keepLast retains the version
    assert(t.expireSnapshots(keepLast = 3, olderThanMillis = cut) == ((0, 0)))
    // combined: v0 and v1 are both old AND beyond keepLast=1
    val (snaps, files) = t.expireSnapshots(keepLast = 1, olderThanMillis = cut)
    assert(snaps == 2, s"v0+v1 must expire (got $snaps)")
    assert(files > 0, "unreferenced data files of expired snapshots go too")
    assert(t.currentVersion() == 2L)
    assert(shaState(t).keySet == Set("a", "b", "c"))
    intercept[Exception] { t.readAt(spark, 0L) } // manifest gone
  }

  test("footer pool bounds a hung metadata read: degrade or fail fast") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.slowfs.impl", classOf[SlowGraftFileSystem].getName)
    val entry = DataFileEntry("slowfs:///nowhere/x.parquet", 0, -1L, 1)
    // ingest path (default): the entry degrades to stats-less, promptly —
    // a transient metadata blip must not abort a merge epoch
    val t0 = System.nanoTime()
    val degraded = FileStats.fillAll(conf, Seq(entry), timeoutSec = 1L)
    assert((System.nanoTime() - t0) / 1e9 < 30.0, "must not hang")
    assert(degraded.head.rows == -1L && degraded.head.minSeq.isEmpty,
      "hung footer must leave the entry stats-less, not fail the write")
    // verifier path (failFast): abort loudly, naming the stuck file
    val e = intercept[IllegalStateException] {
      FileStats.fillAll(conf, Seq(entry), timeoutSec = 1L, failFast = true)
    }
    assert(e.getMessage.contains("timed out") &&
      e.getMessage.contains("x.parquet"),
      s"error must name the stuck file: ${e.getMessage}")
    // a hung read holds only its own pool thread: with a full call's worth
    // of reads still stuck past their deadline, a later fillAll over
    // healthy files does not queue behind them
    val stuck = (0 until graft.table.FsIO.MaxInFlight).map(i =>
      DataFileEntry(s"slowfs:///nowhere/h$i.parquet", 0, -1L, 1))
    assert(FileStats.fillAll(conf, stuck, timeoutSec = 1L).forall(_.rows == -1L))
    val t = IceTable.create(tmpDir("hung-then-healthy"), numBuckets = 4)
    val written = t.writeEpochFiles(rows(t, (0 until 40).map(i => s"k$i"), 3L), 0)
    val t1 = System.nanoTime()
    val filled = FileStats.fillAll(conf,
      written.map(_.copy(rows = -1L, minSeq = None, maxSeq = None)),
      timeoutSec = 60L)
    val secs = (System.nanoTime() - t1) / 1e9
    assert(secs < 10.0, s"a healthy fillAll after hung reads took $secs s")
    assert(filled == written, "healthy footers fill every entry")
  }

  test("legacy manifests without the new fields parse with safe defaults") {
    // the second entry carries the retired key-bound and salt fields,
    // which parse and are ignored: it is a candidate for every key of its
    // bucket, inside the old key range or not
    val t = IceTable.create(tmpDir("legacy"), numBuckets = 4)
    val b = t.bucketOf("r", "k5")
    val legacy =
      s"""{"version":3,"epochId":3,"schemaId":1,
         "files":[{"path":"/d/f.parquet","bucket":2,"rows":-1,"schemaId":1,
                   "bytes":123},
                  {"path":"/d/s.parquet","bucket":$b,"rows":10,"schemaId":1,
                   "bytes":456,"minKey":"r\\u0000k0","maxKey":"r\\u0000k9",
                   "saltMod":4,"saltRes":2}],
         "offsets":[{"partitionId":0,"lowSeq":-1,"highSeq":9}],
         "stats":{"rowsExtracted":1,"rowsQuarantined":0,"dedupDrops":0,
                  "rowsApplied":1,"deletesApplied":0,"staleDrops":0},
         "parentVersion":2}"""
    val m = ManifestJson.parse(legacy)
    assert(m.numBuckets == -1 && m.commitTimeMillis == -1L &&
      m.completeUntilSeq == Long.MinValue)
    val f = m.files.head
    assert(f.minSeq.isEmpty && f.maxSeq.isEmpty)
    val legacyBounded = m.files(1)
    assert(legacyBounded.bucket == b && legacyBounded.rows == 10L)
    val outside = Iterator.from(0).map(i => s"z$i")
      .find(k => t.bucketOf("r", k) == b).get
    Seq("k5", outside).foreach(k =>
      assert(t.lookupFiles(spark, m, "r", k).contains(legacyBounded),
        s"$k: the file must be a candidate for its bucket"))
  }

  test("lookups ignore key bounds a legacy manifest carries: each equals " +
      "read().filter") {
    // republish a real table's manifest with every file entry's key bounds
    // set to a range that holds no stored key (a json edit, so the entries
    // carry the bounds whatever the writer records): a lookup that pruned
    // by them would answer nothing for every present key
    val t = mixedVintage("lkplegacy")
    val v = t.currentVersion()
    import org.json4s._
    val edited = org.json4s.jackson.JsonMethods.parse(snapJson(t.dir, v))
      .transformField {
        case ("version", _) => ("version", JInt(v + 1))
        case ("parentVersion", _) => ("parentVersion", JInt(v))
        case ("files", JArray(fs)) => ("files", JArray(fs.map {
          case JObject(kv) => JObject(kv.filterNot { case (k, _) =>
            k == "minKey" || k == "maxKey" } ++ List(
            "minKey" -> JString("s\u0000a"), "maxKey" -> JString("s\u0000b")))
          case other => other
        }))
      }
    Files.write(Paths.get(f"${t.dir}/meta/snap-${v + 1}%08d.json"),
      org.json4s.jackson.JsonMethods.compact(edited).getBytes("UTF-8"))
    assert(t.currentVersion() == v + 1)
    assert(snapJson(t.dir, v + 1).contains("minKey"))
    val present = (0 until 40).map(i => f"k$i%02d")
    assert(present.map(k => assertLookupAsRead(t, "r", k).length).sum == 39,
      "every live key must answer its row (k01 is a tombstone)")
    Seq("k00a", "zz").foreach(k =>
      assert(assertLookupAsRead(t, "r", k).isEmpty))
  }

  /** bytes read through `file:` paths while `body` runs (the JVM's
    * FileSystem statistics; the suite runs one test at a time) */
  private def fileBytesRead(body: => Unit): Long = {
    def now: Long = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file").getLong("bytesRead")
    val b0 = now
    body
    now - b0
  }

  test("lookups share one broadcast read conf per layout and conf, keep " +
      "the key pushdown, and read with a changed conf at once") {
    import org.apache.spark.sql.sources.EqualTo
    val t = IceTable.create(tmpDir("lkpconf"), numBuckets = 1)
    // paths repeat across repos, as in real repositories, so the key
    // columns are dictionary-encoded and a pushed key can skip a row group
    val keys = for (r <- 0 until 10; p <- 0 until 200)
      yield (f"r$r%02d", f"p$p%03d")
    val content = (k: (String, String)) =>
      (0 until 6).map(j => OracleFold.sha256Hex(s"$k/$j")).mkString
    val fs0 = t.writeEpochFiles(keys.map(k => (k._1, k._2, commit40, "scala",
        content(k), OracleFold.sha256Hex(content(k))))
      .toDF("repo", "path", "commit", "lang", "content", "contentSha")
      .withColumn("bucket", lit(0))
      .withColumn("lastSeq", lit(5L))
      .withColumn("deleted", lit(false)), 0)
    t.commit(EpochManifest(0, 0, 1, fs0, offsets2(5L),
      EpochStats(2000, 0, 0, 2000, 0, 0), -1L, completeUntilSeq = 5L,
      numBuckets = 1))
    assert(fs0.size == 1)
    val fileBytes = fs0.head.bytes
    // an absent repo inside the file's repo range: only the pushed
    // predicate against the repo dictionary can skip the row group
    val absent = ("r05a", "p007")
    def lookupAsRead(k: (String, String)) = assertLookupAsRead(t, k._1, k._2)

    // warm: every layout this test reads has its read conf memoized
    Seq(keys(7), absent).foreach(lookupAsRead)
    val b0 = GraftSqlBridge.readConfBroadcasts(spark)
    (0 until 20).foreach { i =>
      val (r, p) = keys(i * 97)
      assert(lookupAsRead((r, p)).length == 1)
      assert(lookupAsRead((s"${r}a", p)).isEmpty)
    }
    assert(GraftSqlBridge.readConfBroadcasts(spark) == b0,
      "repeated lookups on an unchanged session must reuse their read conf")
    val layout = BucketScan.userSchema(1)
    val part = org.apache.spark.sql.types.StructType(Nil)
    val (a, b) = (
      GraftSqlBridge.parquetReaderFactory(spark, layout, part,
        Seq(EqualTo("path", "a"))),
      GraftSqlBridge.parquetReaderFactory(spark, layout, part,
        Seq(EqualTo("path", "b"))))
    assert(a.broadcastedConf eq b.broadcastedConf)
    assert(a.filters.toSeq == Seq(EqualTo("path", "a")) &&
      b.filters.toSeq == Seq(EqualTo("path", "b")))

    // parquet's vectored reads bypass the local FileSystem's statistics, so
    // read through the stream path, where every byte is counted; that conf
    // change must itself reach the reader
    val vectored = "parquet.hadoop.vectored.io.enabled"
    val pushdown = "spark.sql.parquet.filterPushdown"
    def absentRead(): Long =
      fileBytesRead(assert(t.lookup(spark, absent._1, absent._2).isEmpty))
    spark.conf.set(vectored, "false")
    try {
      val pushed = absentRead()
      assert(pushed > 0 && pushed < fileBytes / 4,
        s"absent key read $pushed of the file's $fileBytes bytes")
      spark.conf.set(pushdown, "false")
      val unpushed = try absentRead() finally spark.conf.unset(pushdown)
      assert(unpushed > fileBytes / 2,
        s"without pushdown the lookup must read the data pages: " +
          s"$unpushed of $fileBytes bytes")
      assert(absentRead() == pushed, "the restored conf reads as before")
    } finally spark.conf.unset(vectored)
    assert(lookupAsRead(absent).isEmpty)
  }

  test("only repo, path and lang keep a parquet dictionary in epoch files") {
    import scala.jdk.CollectionConverters._
    val t = IceTable.create(tmpDir("nodict"), numBuckets = 1)
    // every column repeats its values, so parquet keeps a dictionary
    // wherever one is allowed
    val df = (0 until 200).map(i =>
        ("r", f"p${i % 10}%02d", commit40, "scala", "same", "sha", 1))
      .toDF("repo", "path", "commit", "language", "content", "contentSha",
        "sizeBytes")
      .withColumn("bucket", lit(0))
      .withColumn("lastSeq", lit(7L))
      .withColumn("deleted", lit(false))
    // v3 renamed lang to `language`: the columns are found by colId
    val Seq(f) = t.writeEpochFiles(df, 0, schemaId = 3)
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.path), conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    val encodings = try reader.getFooter.getBlocks.asScala
      .flatMap(_.getColumns.asScala)
      .map(c => c.getPath.toDotString -> c.getEncodings.asScala.map(_.toString))
      .toMap
    finally reader.close()
    def dictionary(c: String): Boolean =
      encodings(c).exists(_.contains("DICTIONARY"))
    Seq("commit", "content", "contentSha", "lastSeq").foreach(c =>
      assert(!dictionary(c), s"$c: ${encodings(c)}"))
    Seq("repo", "path", "language").foreach(c =>
      assert(dictionary(c), s"$c: ${encodings(c)}"))
  }
}
