package graft

import graft.driver.MirrorJob
import graft.log.{ChangeLogGen, LogSpec}
import graft.maintenance.{Compaction, Rebucket, Revert}
import graft.merge.MergeEngine
import graft.model.{ChangeEvent, DataFileEntry, EpochManifest, EpochStats,
  OffsetRange}
import graft.table.{IceTable, ManifestJson, SessionScope, SqlAppend}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{ColumnarToRowExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Every engine writer sorts its files by key and flags them
  * (`DataFileEntry.sortedByKey`); the bucket scan reads in column batches
  * and reports `(bucket, repo, path)` order only for buckets held in one
  * flagged file, so an aligned full-outer join on the key sorts nothing. */
class KeyOrderSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val spec = LogSpec(seed = 91L, nEvents = 3000, nRepos = 6,
    nPathsPerRepo = 30, pDelete = 0.1)

  private def slice(lo: Long, hi: Long): Dataset[ChangeEvent] = {
    import spark.implicits._
    val sp = spec // a local: the closure must not capture the suite
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    spark.range(lo + 1, hi + 1).map(s => ChangeLogGen.eventAt(sp, cdf, s))
  }

  private def epoch(t: IceTable, lo: Long, hi: Long, id: Long): Unit =
    assert(!MergeEngine.applyEpoch(spark, t, slice(lo, hi), id,
      nLogPartitions = 2, claimedRange = Some((lo, hi))).skipped)

  /** the (repo, path) keys of one file, in the order the file holds them */
  private def fileKeys(path: String): Seq[(String, String)] =
    spark.read.parquet(path).select("repo", "path").collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))

  /** the files `t`'s current manifest lists that `before` did not: each is
    * flagged and really holds its rows in (repo, path) order */
  private def assertNewFilesSorted(t: IceTable, before: Set[String],
      step: String): Set[String] = {
    val files = t.currentManifest().get.files
    val added = files.filterNot(f => before(f.path))
    assert(added.nonEmpty, s"$step wrote no file")
    added.foreach { f =>
      assert(f.sortedByKey, s"$step: ${f.path} is not flagged sortedByKey")
      val keys = fileKeys(f.path)
      assert(keys.nonEmpty && keys == keys.sorted,
        s"$step: ${f.path} holds its rows out of (repo, path) order")
    }
    files.map(_.path).toSet
  }

  test("every writer flags its files sortedByKey, and each file's rows " +
      "are in (repo, path) order") {
    val t = IceTable.create(tmpDir("ko-writers"), numBuckets = 4)
    var seen = Set.empty[String]
    epoch(t, -1L, 1499L, 0L)
    seen = assertNewFilesSorted(t, seen, "first epoch (empty target)")
    val vFirst = t.currentVersion()
    epoch(t, 1499L, 2999L, 1L)
    seen = assertNewFilesSorted(t, seen, "later epoch")
    Compaction.compact(spark, t)
    seen = assertNewFilesSorted(t, seen, "compaction")
    import spark.implicits._
    SqlAppend.append(spark, t,
      Seq(("zz-sql", "a.py", "c", "py", "x"), ("r-sql", "b.py", "c", "py", "y"))
        .toDF("repo", "path", "commit", "lang", "content"), Some(2))
    seen = assertNewFilesSorted(t, seen, "SQL append")
    assert(!Revert.revertTo(spark, t, vFirst, nLogPartitions = 2).skipped)
    seen = assertNewFilesSorted(t, seen, "revert")
    Rebucket.rebucket(spark, t, 8)
    seen = assertNewFilesSorted(t, seen, "rebucket")
    val mir = IceTable.create(tmpDir("ko-mirror"), numBuckets = 8)
    MirrorJob.sync(spark, t, mir, nLogPartitions = 2)
    assertNewFilesSorted(mir, Set.empty, "mirror sync")
  }

  test("a snapshot json without sortedByKey parses as false; a flagged " +
      "entry round-trips") {
    val legacy =
      """{"version":0,"epochId":0,"schemaId":1,
         "files":[{"path":"/d/f.parquet","bucket":1,"rows":3,"schemaId":1,
                   "bytes":123}],
         "offsets":[{"partitionId":0,"lowSeq":-1,"highSeq":9}],
         "stats":{"rowsExtracted":1,"rowsQuarantined":0,"dedupDrops":0,
                  "rowsApplied":1,"deletesApplied":0,"staleDrops":0},
         "parentVersion":-1}"""
    val m = ManifestJson.parse(legacy)
    assert(!m.files.head.sortedByKey)
    val flagged = m.copy(files = m.files.map(_.copy(sortedByKey = true)))
    assert(ManifestJson.parse(ManifestJson.write(flagged)) == flagged)
  }

  /** A full-outer join of bucket-aligned scans of `oldFiles` and
    * `newFiles` on (bucket, repo, path), planned under the
    * storage-partitioned-join confs as the version diff plans it. Returns
    * the executed plan and the changed keys with their live content hash
    * before and after (None: absent or tombstoned). */
  private def alignedDiff(t: IceTable, oldFiles: Seq[DataFileEntry],
      newFiles: Seq[DataFileEntry], schemaId: Int)
      : (SparkPlan, Set[((String, String), Option[String], Option[String])]) = {
    val buckets = (oldFiles ++ newFiles).map(_.bucket).distinct.sorted
    def side(files: Seq[DataFileEntry], tag: String): DataFrame =
      t.readFilesBucketAligned(spark, files, schemaId, Some(buckets))
        .select(col("bucket"), col("repo"), col("path"),
          when(coalesce(col("deleted"), lit(false)), lit(null))
            .otherwise(col("contentSha")).as(s"${tag}_sha"))
    SessionScope.coPartitioned(spark) {
      val j = side(oldFiles, "o")
        .join(side(newFiles, "n"), Seq("bucket", "repo", "path"), "full_outer")
        .filter(!(col("o_sha") <=> col("n_sha")))
      val got = j.collect().map(r => ((r.getString(1), r.getString(2)),
        Option(r.getString(3)), Option(r.getString(4)))).toSet
      (j.queryExecution.executedPlan, got)
    }
  }

  /** the same changed keys from the two versions' user views */
  private def readAtDiff(t: IceTable, vOld: Long, vNew: Long)
      : Set[((String, String), Option[String], Option[String])] = {
    def view(v: Long, tag: String): DataFrame = t.readAt(spark, v)
      .select(col("repo"), col("path"), col("contentSha").as(s"${tag}_sha"))
    view(vOld, "o").join(view(vNew, "n"), Seq("repo", "path"), "full_outer")
      .filter(!(col("o_sha") <=> col("n_sha"))).collect()
      .map(r => ((r.getString(0), r.getString(1)), Option(r.getString(2)),
        Option(r.getString(3)))).toSet
  }

  private def sorts(p: SparkPlan): Int = collect(p) { case s: SortExec => s }.size

  /** the aligned diff of `vOld` -> `vNew` (the files one lists and the
    * other does not): its plan's sort count, checked against readAt */
  private def diffSorts(t: IceTable, vOld: Long, vNew: Long): (SparkPlan, Int) = {
    val (mOld, mNew) = (t.readManifest(vOld), t.readManifest(vNew))
    val (oldPaths, newPaths) =
      (mOld.files.map(_.path).toSet, mNew.files.map(_.path).toSet)
    val (plan, got) = alignedDiff(t,
      mOld.files.filterNot(f => newPaths(f.path)),
      mNew.files.filterNot(f => oldPaths(f.path)), mNew.schemaId)
    val want = readAtDiff(t, vOld, vNew)
    assert(want.nonEmpty, "the fixture must change some key")
    assert(got == want, "the aligned diff must equal the readAt diff")
    (plan, sorts(plan))
  }

  test("an aligned full-outer join of flagged single-file buckets sorts " +
      "nothing and reads columnar") {
    val t = IceTable.create(tmpDir("ko-plan"), numBuckets = 4)
    epoch(t, -1L, 1499L, 0L)
    epoch(t, 1499L, 2999L, 1L)
    val (plan, n) = diffSorts(t, 0L, 1L)
    assert(n == 0, s"flagged single-file buckets need no SortExec:\n$plan")
    val scans = collect(plan) { case c: ColumnarToRowExec => c.child }
      .flatMap(c => collect(c) { case b: BatchScanExec => b })
    assert(scans.size == 2 && scans.forall(_.supportsColumnar),
      s"both scans must read batches under a ColumnarToRow:\n$plan")
    assert(scans.forall(_.scan.description().contains(
      "sorted=bucket,repo,path")), plan.toString)
  }

  test("an unflagged entry brings the sort back") {
    // republish the current manifest with one entry's flag removed (a json
    // edit, as a manifest written before the flag existed reads)
    val t = IceTable.create(tmpDir("ko-legacy"), numBuckets = 4)
    epoch(t, -1L, 1499L, 0L)
    epoch(t, 1499L, 2999L, 1L)
    val v = t.currentVersion()
    import org.json4s._
    val json = new String(Files.readAllBytes(
      Paths.get(f"${t.dir}/meta/snap-$v%08d.json")), "UTF-8")
    var edited = false
    val out = org.json4s.jackson.JsonMethods.parse(json).transformField {
      case ("version", _) => ("version", JInt(v + 1))
      case ("parentVersion", _) => ("parentVersion", JInt(v))
      case ("files", JArray(fs)) => ("files", JArray(fs.map {
        case JObject(kv) if !edited =>
          edited = true
          JObject(kv.filterNot(_._1 == "sortedByKey"))
        case other => other
      }))
    }
    Files.write(Paths.get(f"${t.dir}/meta/snap-${v + 1}%08d.json"),
      org.json4s.jackson.JsonMethods.compact(out).getBytes("UTF-8"))
    val m = t.currentManifest().get
    assert(m.version == v + 1 && m.files.count(!_.sortedByKey) == 1)
    val (plan, n) = diffSorts(t, 0L, v + 1)
    assert(n >= 1, s"an unflagged file must be sorted by Spark:\n$plan")
    // the old side (flagged files only) still reports its order
    assert(collect(plan) { case b: BatchScanExec => b.scan.description() }
      .map(_.contains("sorted=")).sorted == Seq(false, true), plan.toString)
  }

  test("a bucket held in two files brings the sort back") {
    // two file generations committed as one snapshot: buckets hit by both
    // hold two files (each flagged, each key-sorted, together unordered)
    import spark.implicits._
    val t = IceTable.create(tmpDir("ko-frag"), numBuckets = 4)
    def rows(keys: Seq[Int], seq: Long) = keys.map(i =>
        (s"r$i", s"p$i", "c", "scala", s"v$i$seq", s"sha$i-$seq"))
      .toDF("repo", "path", "commit", "lang", "content", "contentSha")
      .withColumn("bucket", t.bucketCol(col("repo"), col("path")))
      .withColumn("lastSeq", lit(seq))
      .withColumn("deleted", lit(false))
    val f0 = t.writeEpochFiles(rows(0 until 40, 1L), 0)
    val f1 = t.writeEpochFiles(rows(40 until 48, 2L), 1)
    val all = (f0 ++ f1).sortBy(f => (f.bucket, f.path))
    assert(all.forall(_.sortedByKey) &&
      all.groupBy(_.bucket).exists(_._2.size >= 2),
      "fixture must fragment some bucket")
    t.commit(EpochManifest(0, 1, 1, all,
      (0 until 2).map(p => OffsetRange(p, -1L, 2L)),
      EpochStats(48, 0, 0, 48, 0, 0), -1L))
    val cur = t.currentManifest().get
    // one single-file bucket rewritten: the diff's old side reads every
    // bucket, two of them from two files
    val upd = rows(Seq(0, 41), 3L)
    val fNew = t.writeEpochFiles(
      t.readFiles(spark, cur.files, cur.schemaId)
        .join(upd.select("repo", "path"), Seq("repo", "path"), "left_anti")
        .select(upd.columns.map(col): _*).unionByName(upd), 2)
    t.commit(cur.copy(version = 1, epochId = 2, files = fNew, parentVersion = 0))
    val (plan, n) = diffSorts(t, 0L, 1L)
    assert(n >= 1, s"a two-file bucket must be sorted by Spark:\n$plan")
  }
}
