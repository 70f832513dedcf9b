package graft.table

import graft.model._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.functions._

/**
 * Minimal snapshot/manifest table layer ("IceTable") over Parquet.
 *
 * No Iceberg/Delta jar exists in this environment (SURVEY.md §7.0), so the
 * engine re-creates, from scratch and Spark-first, exactly the semantics the
 * reference builds on Iceberg (IcebergMetadataWriter.flush,
 * gobblin-iceberg/.../writer/IcebergMetadataWriter.java:834-905):
 *
 *  - A table is a directory; readable state is defined ONLY by the manifest
 *    the current snapshot references. Data files not listed in the current
 *    manifest are invisible — so a crash after data-file write but before
 *    manifest commit leaves orphans that are simply ignored on replay.
 *  - All metadata and data IO goes through Hadoop `FileSystem`, so the table
 *    can live on any supported durable store (`file://`, `hdfs://`,
 *    `s3a://`, custom schemes) — the same abstraction the reference's state
 *    store and writers use (gobblin-metastore/.../FsStateStore.java:65;
 *    gobblin-core/.../writer/FsDataWriter.java:58).
 *  - Commit = write `snap-<version>.json` to a temp name, then RENAME
 *    WITHOUT OVERWRITE to its final name. On HDFS-like stores that rename is
 *    atomic and fails when the destination exists, so it doubles as the
 *    compare-and-swap: of two racing writers committing the same version,
 *    exactly one wins and the loser gets an error instead of clobbering
 *    (the reference's FsStateStore.put tmp+rename pattern,
 *    gobblin-metastore/.../FsStateStore.java:156-178, hardened to CAS).
 *    The current version IS the largest committed snapshot file — no
 *    mutable pointer file exists, so there is nothing to torn-write.
 *  - The manifest carries committed per-partition offset ranges — the replay
 *    fence that makes epoch application idempotent (the `mergeOffsets`
 *    pattern, IcebergMetadataWriter.java:385-435).
 *  - Rows are hash-bucketed by key `(repo, path)`. Copy-on-write MERGE
 *    rewrites only the buckets an epoch touches; untouched buckets' files are
 *    carried forward by reference. At cluster scale the bucket count bounds
 *    both merge-join width and rewrite amplification.
 *  - Data files are written to a STAGING dir and published into the data
 *    layout by per-file rename (the reference's staging→output atomic
 *    publish, gobblin-core/.../publisher/BaseDataPublisher.java semantics):
 *    a crash mid-publish leaves unreferenced files only.
 *
 * Layout:
 * {{{
 *   <dir>/data/bucket=<b>/e<epochId>-part-*.parquet
 *   <dir>/staging/e<epochId>-<nonce>/bucket=<b>/part-*.parquet  (transient)
 *   <dir>/staging/copy-<nonce>/bucket=<b>/<name>  (transient: mirror copies)
 *   <dir>/meta/snap-<version>.json        (the whole manifest, file list
 *                                         included)
 * }}}
 *
 * Every read goes through [[BucketScan]], which takes each file's bucket
 * from its manifest entry, never from the path: `bucket=<b>` names the
 * directory for operators and for the orphan sweep's listing.
 */
final class IceTable(val dir: String, val defaultNumBuckets: Int) {
  private val root = new HPath(dir)

  /** Bucket count of the CURRENT snapshot's data layout: recorded per
    * manifest (so `Rebucket` can migrate a table that outgrew its width —
    * the partition-spec-evolution analog, IcebergMetadataWriter.java:
    * 507-524); legacy/empty tables fall back to the construction default.
    * Epoch-scoped callers (MergeEngine) resolve this ONCE from the parent
    * manifest they already hold instead of re-listing here.
    *
    * CACHED per handle: the first resolution (one manifest read) is
    * remembered and refreshed by every commit() / currentManifest()
    * through this handle — without the cache the bucketCol/bucketOf DEFAULTS
    * turned a cheap expression builder into a metadata listing + manifest
    * read per call (repeated remote LISTs on object stores). A REBUCKET by a
    * DIFFERENT process is picked up at the next currentManifest()/commit;
    * same-process callers always observe their own commits (the epoch path
    * re-reads the parent manifest every epoch regardless). */
  def numBuckets: Int = {
    val c = cachedBucketCount
    if (c > 0) c
    else {
      val v = currentVersion()
      // an EMPTY table's default is NOT cached: another process may create
      // the table with a different width before this handle's first commit,
      // and a cached default would mis-route bucketOf/bucketCol forever
      if (v < 0) defaultNumBuckets
      else {
        val n = bucketCountOf(Some(readManifest(v)))
        cachedBucketCount = n
        n
      }
    }
  }
  @volatile private var cachedBucketCount: Int = -1

  /** fault-injection seam for specs (see [[commit]]); no-op in production */
  private[graft] var onBeforeSnapshotCas: () => Unit = () => ()

  def bucketCountOf(m: Option[graft.model.EpochManifest]): Int =
    m.map(_.numBuckets).filter(_ > 0).getOrElse(defaultNumBuckets)
  private def metaDir = new HPath(root, "meta")
  private def dataDir = new HPath(root, "data")
  private def stagingDir = new HPath(root, "staging")

  /** Hadoop conf: the active Spark session's (so `spark.hadoop.*` and
    * runtime-registered filesystems apply), else vanilla; `file:` IO goes
    * through [[LocalFs]] unless the session names its own local FS. */
  private def hconf: Configuration = {
    val c = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration()) // spark.hadoop.* even off-thread
    LocalFs.keys(c).foreach { case (k, v) => c.set(k, v) }
    c
  }
  private def fs: FileSystem = root.getFileSystem(hconf)

  def init(): this.type = {
    val f = fs
    f.mkdirs(metaDir)
    f.mkdirs(dataDir)
    this
  }

  // ---- snapshot / manifest IO --------------------------------------------

  // %08d pads to AT LEAST 8 digits — match 8+, or versions past 1e8 would
  // become invisible to currentVersion
  private val SnapName = """snap-(\d{8,})\.json""".r

  /** all committed snapshot versions, one metadata listing */
  private def listVersions(): Seq[Long] = {
    val f = fs
    if (!f.exists(metaDir)) return Seq.empty
    f.listStatus(metaDir).iterator.map(_.getPath.getName).collect {
      case SnapName(v) => v.toLong
    }.toSeq.sorted
  }

  /** Current version = largest committed snapshot file (rename-published, so
    * a listed snap is always complete). -1 when the table is empty. */
  def currentVersion(): Long = listVersions().foldLeft(-1L)(math.max)

  def currentManifest(): Option[EpochManifest] = {
    val v = currentVersion()
    if (v < 0) None
    else {
      val m = readManifest(v)
      cachedBucketCount = bucketCountOf(Some(m))
      Some(m)
    }
  }

  private def snapPath(version: Long): HPath =
    new HPath(metaDir, f"snap-$version%08d.json")

  private def readUtf8(p: HPath): String = FsIO.readUtf8(fs, p)

  /** Read a snapshot manifest: the snapshot json holds the whole of it,
    * file list included. */
  def readManifest(version: Long): EpochManifest =
    ManifestJson.parse(readUtf8(snapPath(version)))

  /** Atomically commit `m` as the new current snapshot. The rename-without-
    * overwrite of the snapshot file is the CAS: a racing writer that planned
    * against the same parent fails here instead of clobbering.
    *
    * `FileSystem.rename` is NOT a safe CAS everywhere: on Raw/LocalFileSystem
    * it maps to POSIX rename(2), which silently REPLACES an existing
    * destination — two racing writers would both "win" and one snapshot
    * would be clobbered. Per scheme:
    *  - `file://`: publish via `Files.createLink` — POSIX link(2) is atomic
    *    and fails with EEXIST when the destination exists, a TRUE local CAS
    *    (FileContext's local rename is only a non-atomic existence check in
    *    front of rename(2)).
    *  - schemes with an `AbstractFileSystem` binding (hdfs:// etc.):
    *    `FileContext.rename(src, dst, Options.Rename.NONE)` — atomic
    *    fail-on-existing at the namenode on HDFS-like stores.
    *  - other schemes: best-effort exists-check + rename; the window cannot
    *    be fully eliminated there and the `parentVersion` precondition is
    *    the practical protection. */
  /** Returns the COMMITTED manifest (the caller's `m` with the commit time
    * stamped) — callers must hold on to the return value, not `m`, so
    * in-memory state never diverges from the snapshot on disk. */
  def commit(m: EpochManifest): EpochManifest = {
    val f = fs
    val cur = currentVersion()
    require(m.parentVersion == cur,
      s"concurrent writer detected: parent=${m.parentVersion} current=$cur")
    require(m.version == cur + 1, s"version must be ${cur + 1}, got ${m.version}")
    // stamp the wall-clock commit time at publish — unconditionally, so a
    // manifest built by copy() from its parent cannot inherit the parent's
    // time (time-based retention reads this, never fs mtimes)
    val stamped = m.copy(commitTimeMillis = System.currentTimeMillis())
    // test seam: lets specs deterministically interleave a concurrent
    // winner between the parent check and the snapshot CAS
    onBeforeSnapshotCas()
    val tmp = new HPath(metaDir,
      f".snap-${m.version}%08d-${System.nanoTime()}%d.json.tmp")
    val out = f.create(tmp, false)
    try out.write(ManifestJson.write(stamped).getBytes("UTF-8")) finally out.close()
    if (!renameNoReplace(f, tmp, snapPath(m.version))) {
      f.delete(tmp, false)
      throw new IllegalArgumentException(
        s"concurrent writer detected: snapshot ${m.version} already committed")
    }
    cachedBucketCount = bucketCountOf(Some(stamped))
    stamped
  }

  /** publish `src` at `dst` failing (false) when the destination exists —
    * the strongest no-overwrite primitive each scheme offers (see
    * [[commit]]); shared with [[GraftCatalog]] via [[AtomicRename]]. */
  private def renameNoReplace(f: FileSystem, src: HPath, dst: HPath): Boolean =
    AtomicRename.renameNoReplace(f, src, dst)

  // ---- reads --------------------------------------------------------------

  /** Current table state as the USER view: tombstones filtered, physical
    * columns (bucket, lastSeq, deleted) dropped, projected to the snapshot's
    * current schema. Only manifest-listed files are read; files written
    * under an older schema are evolved at read time by column-id projection
    * (no rewrite). */
  def read(spark: SparkSession): DataFrame =
    readRaw(spark)
      .filter(!coalesce(col("deleted"), lit(false)))
      .drop("bucket", "lastSeq", "deleted")

  /** Raw view incl. physical columns and tombstones (merge/maintenance). */
  def readRaw(spark: SparkSession): DataFrame = currentManifest() match {
    case None => readFiles(spark, Nil)
    case Some(m) => readFiles(spark, m.files, m.schemaId)
  }

  /** Time travel: the user view AS OF an older snapshot version. Snapshot
    * isolation falls out of immutability — a manifest's file list never
    * changes, so concurrent readers of any version are unaffected by
    * ongoing commits. */
  def readAt(spark: SparkSession, version: Long): DataFrame = {
    val m = readManifest(version)
    readFiles(spark, m.files, m.schemaId)
      .filter(!coalesce(col("deleted"), lit(false)))
      .drop("bucket", "lastSeq", "deleted")
  }

  /** One row per retained snapshot (oldest first) — the table-history
    * surface an operator reads before time travel or retention. */
  final case class SnapshotInfo(version: Long, epochId: Long,
      commitTimeMillis: Long, schemaId: Int, numBuckets: Int,
      files: Int, bytes: Long, rowsApplied: Long, completeUntilSeq: Long)

  def history(): Seq[SnapshotInfo] =
    listVersions().map { v =>
      val m = readManifest(v)
      SnapshotInfo(m.version, m.epochId, m.commitTimeMillis, m.schemaId,
        bucketCountOf(Some(m)), m.files.size,
        m.files.map(f => math.max(0L, f.bytes)).sum,
        m.stats.rowsApplied, m.completeUntilSeq)
    }

  /** Largest retained version committed at or before `timestampMillis`
    * (commit times are manifest-stamped and monotone). A LEGACY unstamped
    * snapshot has no recorded time, and treating it as infinitely old could
    * serve wrong-era data (it may actually postdate the request); instead
    * it is bounded by the EARLIEST STAMPED SUCCESSOR's time (it was
    * certainly committed before that successor) and is eligible only when
    * that bound ≤ the request — with no stamped successor its commit time
    * is unknowable and it is never eligible for timestamp travel (version
    * travel via [[readAt]] still works). None when no retained snapshot
    * qualifies. */
  def versionAsOf(timestampMillis: Long): Option[Long] = {
    val stamps = listVersions().map(v =>
      v -> readManifest(v).commitTimeMillis)
    val effective = stamps.zipWithIndex.map { case ((v, t), i) =>
      v -> (if (t >= 0) t
            else stamps.drop(i + 1)
              .collectFirst { case (_, st) if st >= 0 => st }
              .getOrElse(Long.MaxValue))
    }
    effective.collect { case (v, t) if t <= timestampMillis => v }.maxOption
  }

  /** Time travel by WALL CLOCK: the user view as of the newest snapshot
    * committed at or before `timestampMillis` (Iceberg's as-of-timestamp
    * read, driven by the manifest-stamped commit times). */
  def readAsOfTime(spark: SparkSession, timestampMillis: Long): DataFrame =
    versionAsOf(timestampMillis) match {
      case Some(v) => readAt(spark, v)
      case None => throw new IllegalArgumentException(
        s"no snapshot committed at or before $timestampMillis " +
          s"(earliest retained: ${history().headOption})")
    }

  /** Driver-side replica of Spark's `xxhash64(repo, path)` fold (seed 42,
    * each column hashed over its UTF-8 bytes with the running hash as
    * seed) — lets the lookup path compute a key's bucket without a Spark
    * job. Cross-checked against [[bucketCol]] by spec. */
  def bucketOf(repo: String, path: String, nBuckets: Int = -1): Int = {
    val n = if (nBuckets > 0) nBuckets else numBuckets
    val h = Seq(repo, path).foldLeft(42L) { (seed, s) =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), seed)
    }
    val m = (h % n).toInt
    if (m < 0) m + n else m
  }

  /** Candidate data files that can hold key `(repo, path)` under manifest
    * `m`: the files of the key's bucket (key hash). Manifest-only: no file
    * is opened. `spark` is unused. */
  def lookupFiles(spark: SparkSession, m: EpochManifest, repo: String,
      path: String): Seq[DataFileEntry] = {
    val b = bucketOf(repo, path, bucketCountOf(Some(m)))
    m.files.filter(_.bucket == b)
  }

  /** POINT LOOKUP (serving path): the user-view row(s) for one exact key,
    * with the schema and rows [[read]] filtered to the key would give. It
    * runs NO Spark job: the candidate files are read on the calling thread
    * when `lookup` is called (the snapshot is fixed then, not at the
    * caller's action), through the bucket scan's own reader (Spark's
    * vectorized parquet reader at each vintage's column-id read schema),
    * and the answer is a local relation of the final user rows: tombstones and the
    * physical columns are dropped on the driver, so the frame carries no
    * Dataset operator for the caller's action to analyse. Pruning, in
    * order: the key's bucket (key hash), then parquet row groups and
    * dictionaries via the pushed key predicate. At 100 TB a key lookup opens its bucket's one file, never
    * the table. */
  def lookup(spark: SparkSession, repo: String, path: String): DataFrame = {
    val m = currentManifest()
    val schema = BucketScan.userSchema(
      m.fold(SchemaRegistry.baseSchemaId)(_.schemaId))
    val rows = m.toSeq.flatMap(lookupRows(spark, _, schema, repo, path))
    GraftSqlBridge.localDataFrame(spark, schema, rows)
  }

  /** The live user rows (`schema`) of key `(repo, path)` in its candidate
    * files: tombstones dropped and the physical columns cut on the driver,
    * each row copied out of the reader. */
  private def lookupRows(spark: SparkSession, m: EpochManifest,
      schema: org.apache.spark.sql.types.StructType, repo: String,
      path: String): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    val files = lookupFiles(spark, m, repo, path)
    if (files.isEmpty) return Nil
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.unsafe.types.UTF8String
    // scan layout: the user columns, then bucket, then deleted
    val scan = BucketScan.scanParts(spark, files,
      files.map(_.bucket), m.schemaId,
      requiredCols = Some(schema.fieldNames.toSeq :+ "deleted"),
      pushedFilters = Seq(EqualTo("repo", repo), EqualTo("path", path)))
    val types = schema.fields.map(_.dataType)
    val (ri, pi) = (schema.fieldIndex("repo"), schema.fieldIndex("path"))
    val di = scan.schema.fieldIndex("deleted")
    val (r8, p8) = (UTF8String.fromString(repo), UTF8String.fromString(path))
    scan.parts.toSeq.flatMap { p =>
      val reader = scan.factory.createReader(p)
      try Iterator.continually(reader).takeWhile(_.next()).map(_.get())
        .filter(r => r8 == r.getUTF8String(ri) && p8 == r.getUTF8String(pi)
          && (r.isNullAt(di) || !r.getBoolean(di)))
        .map { r =>
          val c = r.copy()
          new GenericInternalRow(Array.tabulate[Any](types.length)(i =>
            c.get(i, types(i)))): org.apache.spark.sql.catalyst.InternalRow
        }.toVector
      finally reader.close()
    }
  }

  /** Files of `files` that can hold a row with lastSeq > `sinceSeq`
    * (manifest-stats pruning; files without stats are kept — skipping is
    * only ever an optimization). */
  def filesTouchedSince(files: Seq[DataFileEntry],
                        sinceSeq: Long): Seq[DataFileEntry] =
    files.filter(_.maxSeq.forall(_ > sinceSeq))

  /** Incremental read: rows whose `lastSeq` is AFTER `sinceSeq` (raw view —
    * tombstones included, so a downstream consumer sees deletes). The file
    * list is pruned by the manifest's per-file seq stats FIRST: a file whose
    * whole seq range predates the request is never opened — at 100 TB a
    * "changes in the last hour" read touches only the files recent epochs
    * rewrote, not the table (Iceberg-metrics-style scan pruning,
    * IcebergMetadataWriter.java:349-383). */
  def readChangesSince(spark: SparkSession, sinceSeq: Long): DataFrame =
    currentManifest() match {
      case None => readFiles(spark, Nil)
      case Some(m) =>
        readFiles(spark, filesTouchedSince(m.files, sinceSeq), m.schemaId)
          .filter(col("lastSeq") > sinceSeq)
    }

  /** Change data feed between two snapshot versions (the table-format
    * analog of the reference's CDC distribution role — downstream consumers
    * incrementally sync from committed snapshots instead of re-reading the
    * table; Iceberg's incremental scan / Delta's CDF shape). Emits one row
    * per key whose USER-VISIBLE state differs between `fromVersion` and
    * `toVersion`:
    *
    *   - `insert`  — not live before, live after (incl. re-insert over a
    *                 tombstone); NEW image.
    *   - `update`  — live on both sides with a different applied seq
    *                 (`lastSeq` identifies the applied version of a key, so
    *                 a compaction/no-op rewrite that preserves state is NOT
    *                 a change); NEW image (postimage).
    *   - `delete`  — live before, tombstoned after; OLD image (preimage),
    *                 `seq` = the tombstone's seq — EXCEPT when the tombstone
    *                 was committed AND horizon-purged inside the diff window:
    *                 the key then diffs as (live, absent) and the emitted
    *                 delete row carries `seq` NULL (the tombstone's seq is
    *                 unrecoverable from either manifest). Direct consumers
    *                 must treat a NULL-seq delete as "deleted at some seq
    *                 inside (fromVersion, toVersion]'s committed delta" and
    *                 substitute an upper bound themselves (MirrorJob copies
    *                 files and never reads the feed).
    *
    * Scale shape: only files whose PATH differs between the two manifests
    * are read — data files are immutable and content-addressed by path, so
    * a file listed in both snapshots cannot contain a changed row (the
    * merge rewrites every file of a touched bucket and carries only the
    * untouched buckets' files). The diff is therefore O(changed buckets),
    * not O(table): at 100 TB a "changes since yesterday" feed reads the
    * files recent epochs rewrote plus their direct predecessors, nothing
    * else. When both versions share a bucket layout the two sides are
    * bucket-aligned DSv2 scans joined on (bucket, repo, path), and the diff
    * scopes its own confs: it is planned HERE, under
    * [[SessionScope.CoPartitionConfs]], whatever the caller's session sets,
    * and the caller's confs are put back before it returns. The full-outer
    * diff thus runs as ONE job with ZERO exchanges (at Spark's default
    * `requireAllClusterKeysForCoPartition=true` it would hash-shuffle both
    * sides' row images). The returned frame is a `LogicalRDD` over that
    * planned RDD: its snapshot was fixed at the call anyway (both manifests
    * are read eagerly), but a consumer's filters no longer push into the
    * diff's scans. The aligned diff's bucket partitions are packed into one
    * task per core ([[IceTable.packBuckets]]) unless the changed files'
    * bytes need more. Versions with different bucket counts (across a
    * rebucket) diff lazily on (repo, path) with a hash shuffle.
    * Tombstones purged below the safe horizon diff as (old tombstone,
    * absent) — not a user-visible change, correctly emitted as nothing.
    *
    * Ref: gobblin-iceberg/.../IcebergMetadataWriter.java:349-383 (snapshot
    * metadata as the incremental-consumption contract). */
  def changesBetween(spark: SparkSession, fromVersion: Long,
                     toVersion: Long): DataFrame = {
    // DIRECTIONAL, not ordered: the diff is between two manifests, so a
    // BACKWARD pair (fromVersion > toVersion) is legal and yields exactly
    // the COMPENSATING changes that transform the newer state into the
    // older one — the building block of Revert.revertTo (CDC-consistent
    // rollback). Forward reads remain the normal CDC feed.
    require(fromVersion >= 0 && toVersion >= 0,
      s"changesBetween: versions must be committed snapshots " +
        s"($fromVersion, $toVersion)")
    val mNew = readManifest(toVersion)
    val target = mNew.schemaId
    val nonKey = SchemaRegistry.schemaFor(target).columns.map(_.name)
      .filterNot(Set("repo", "path"))
    def emptyChanges: DataFrame =
      readFiles(spark, Nil, target).select(
        lit("").as("change_type") +: col("repo") +: col("path") +:
          nonKey.map(col) :+ lit(0L).as("seq"): _*)
        .filter(lit(false))
    if (fromVersion == toVersion) return emptyChanges
    val mOld = readManifest(fromVersion)
    val oldPaths = mOld.files.map(_.path).toSet
    val newPaths = mNew.files.map(_.path).toSet
    // immutable files: same path ⇒ same bytes ⇒ no changed rows inside
    val oldOnly = mOld.files.filterNot(f => newPaths(f.path))
    val newOnly = mNew.files.filterNot(f => oldPaths(f.path))
    if (oldOnly.isEmpty && newOnly.isEmpty) return emptyChanges
    val aligned = bucketCountOf(Some(mOld)) == bucketCountOf(Some(mNew))
    // one partition-value universe for BOTH sides so the key-grouped
    // layouts match exactly (empty partitions fill the gaps)
    val buckets = (oldOnly ++ newOnly).map(_.bucket).distinct.sorted
    def side(files: Seq[DataFileEntry], tag: String): DataFrame = {
      val raw =
        if (aligned && buckets.nonEmpty)
          readFilesBucketAligned(spark, files, target, Some(buckets))
        else readFiles(spark, files, target)
      val keyCols =
        if (aligned) Seq(col("bucket"), col("repo"), col("path"))
        else Seq(col("repo"), col("path"))
      raw.select(keyCols ++ Seq(
        struct(nonKey.map(col): _*).as(s"_${tag}_img"),
        col("lastSeq").as(s"_${tag}_seq"),
        coalesce(col("deleted"), lit(false)).as(s"_${tag}_del")): _*)
    }
    val joinKeys = if (aligned) Seq("bucket", "repo", "path")
                   else Seq("repo", "path")
    val j = side(oldOnly, "o").join(side(newOnly, "n"), joinKeys, "full_outer")
    // presence = the side's lastSeq survived the outer join (every written
    // row carries lastSeq; the missing side is all-NULL)
    val oldLive = col("_o_seq").isNotNull && !col("_o_del")
    val newLive = col("_n_seq").isNotNull && !col("_n_del")
    val ct = when(!oldLive && newLive, lit("insert"))
      .when(oldLive && newLive && col("_o_seq") =!= col("_n_seq"),
        lit("update"))
      .when(oldLive && !newLive, lit("delete"))
    val changes = j.withColumn("change_type", ct)
      .filter(col("change_type").isNotNull)
      .withColumn("_img", when(col("change_type") === "delete",
        col("_o_img")).otherwise(col("_n_img")))
      .select(col("change_type") +: col("repo") +: col("path") +:
        nonKey.map(n => col(s"_img.$n").as(n)) :+ col("_n_seq").as("seq"): _*)
    if (!aligned) return changes
    SessionScope.coPartitioned(spark) {
      val packed = IceTable.packBuckets(changes, buckets.size,
        oldOnly ++ newOnly)._1
      val rdd = packed.queryExecution.toRdd
      GraftSqlBridge.dataFrameWithPartitioning(spark, rdd, packed.schema,
        _ => UnknownPartitioning(rdd.getNumPartitions))
    }
  }

  /** Retention (SURVEY.md §2.9 cleaner analog; the reference's policy-driven
    * retention module, gobblin-data-management/.../retention/ version
    * policies — e.g. dataset/CleanableIcebergDataset.java): expire snapshots
    * by VERSION count, by AGE, or both combined, then delete data files
    * referenced by NO retained snapshot. A snapshot expires iff it is
    * (a) NOT among the newest `keepLast` versions AND (b) committed before
    * `olderThanMillis` (manifest-stamped wall clock; legacy manifests
    * without a stamp count as infinitely old). The current snapshot never
    * expires; readers of retained versions are unaffected (their manifests
    * and files survive). Defaults degrade to the pure count-based policy.
    * Returns (#manifests, #dataFiles) removed. */
  def expireSnapshots(keepLast: Int = 1,
                      olderThanMillis: Long = Long.MaxValue,
                      // grace window of the orphan sweep below (named for
                      // its existing callers; `orphanDataGraceMillis`
                      // overrides it): unreferenced files younger than this
                      // survive, as they may belong to an IN-FLIGHT commit
                      orphanSegGraceMillis: Long = 3600000L,
                      // ORPHAN DATA-FILE SWEEP: data files referenced by NO
                      // listed snapshot — published by an epoch that lost
                      // the CAS non-rebasably or crashed pre-commit — are
                      // invisible to every reader (correct) but reclaim
                      // nothing by themselves; at 100× with commit races
                      // that is slow unbounded growth. The sweep lists the
                      // data layout (O(files) metadata — a maintenance op,
                      // not a hot path), subtracts every listed snapshot's
                      // file list, applies the mtime grace window (epochs
                      // publish files BEFORE the commit CAS by design — a
                      // slow in-flight commit's files must survive),
                      // re-lists snapshot versions immediately before
                      // deleting (a commit landing mid-sweep is excluded),
                      // and also clears staging leftovers older than the
                      // grace. Swept files count into the second return
                      // component.
                      sweepOrphanData: Boolean = true,
                      orphanDataGraceMillis: Long = -1L): (Int, Int) = {
    require(keepLast >= 1)
    val f = fs
    val versions = listVersions()
    if (versions.isEmpty) return (0, 0)
    val cutoff = versions.max - keepLast + 1
    // EVERY listed snapshot is read before anything is deleted: one that
    // cannot be read (or a legacy segmented one, which readManifest refuses)
    // aborts the whole pass here, so a retained snapshot's files are never
    // taken for orphans or for expired-only files
    val manifests: Map[Long, EpochManifest] =
      versions.map(v => v -> readManifest(v)).toMap
    val expired = versions.filter(v =>
      v < cutoff && manifests(v).commitTimeMillis < olderThanMillis)
    val expiredSet = expired.toSet
    val retained = versions.filterNot(expiredSet)
    // ---- orphan DATA-FILE sweep (see the parameter doc above) ----------
    val dataGrace =
      if (orphanDataGraceMillis >= 0) orphanDataGraceMillis
      else orphanSegGraceMillis
    val sweptData: Int = if (!sweepOrphanData) 0 else {
      // referenced = every file of every version listed in THIS pass
      // (retained AND expired — expired jsons are still on disk here, so
      // their files are not orphans; the normal retention path below
      // removes them in the right order). Paths are QUALIFIED before
      // comparison: manifests record publish-time (possibly scheme-less)
      // paths while listStatus returns fully qualified ones — a raw string
      // compare would see every committed file as an orphan.
      def qual(p: String): String = f.makeQualified(new HPath(p)).toString
      val referenced: Set[String] =
        versions.flatMap(v => manifests(v).files.map(e => qual(e.path))).toSet
      val nowD = System.currentTimeMillis()
      val candidates: Seq[HPath] =
        if (!f.exists(dataDir)) Nil
        else f.listStatus(dataDir).iterator
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
          .flatMap(d => f.listStatus(d.getPath).iterator)
          .filter(s => s.isFile &&
            !referenced.contains(qual(s.getPath.toString)) &&
            nowD - s.getModificationTime >= dataGrace)
          .map(_.getPath).toSeq
      val swept =
        if (candidates.isEmpty) 0
        else {
          // final re-list: a commit that CAS'd after the manifest pass may
          // reference files we are about to delete (a rebase reuses the
          // epoch's already-published files) — exclude them
          val known = versions.toSet
          val lateRefs: Set[String] = listVersions().filterNot(known)
            .flatMap { v =>
              try readManifest(v).files.map(e => qual(e.path))
              catch { case _: java.io.FileNotFoundException => Nil }
            }.toSet
          candidates.filterNot(p => lateRefs.contains(qual(p.toString)))
            .count(p => f.delete(p, false))
        }
      // staging leftovers (crashed mid-write epochs) age out the same way
      if (f.exists(stagingDir))
        f.listStatus(stagingDir).iterator
          .filter(s => nowD - s.getModificationTime >= dataGrace)
          .foreach(s => f.delete(s.getPath, true))
      swept
    }
    if (expired.isEmpty) return (0, sweptData)
    val retainedFiles: Set[String] =
      retained.flatMap(v => manifests(v).files.map(_.path)).toSet
    val expiredFiles: Set[String] =
      expired.flatMap(v => manifests(v).files.map(_.path)).toSet
    val removable = expiredFiles -- retainedFiles
    // ORDERING (crash safety): expired snapshot JSONS go FIRST — a crash
    // later in this method only leaks unreferenced data files (invisible to
    // readers; the orphan sweep collects them next run)
    expired.foreach(v => f.delete(snapPath(v), false))
    removable.foreach(p => f.delete(new HPath(p), false))
    graft.metrics.Metrics.emit("graft.maintenance", "SnapshotsExpired", Map(
      "table" -> dir,
      "expiredManifests" -> expired.size.toString,
      "deletedFiles" -> (removable.size + sweptData).toString,
      "retainedVersions" -> retained.size.toString))
    (expired.size, removable.size + sweptData)
  }

  /** The manifest files `files` evolved to `targetSchemaId`, in the
    * canonical layout `[target cols..., bucket, lastSeq, deleted]`: the
    * [[BucketScan]] over the buckets the files occupy (an empty file list
    * scans an empty bucket 0), packed by [[IceTable.packBuckets]]. Column
    * pruning and filters reach the scan through the packing's `coalesce`,
    * so a projection decodes only its columns. */
  def readFiles(spark: SparkSession, files: Seq[DataFileEntry],
      targetSchemaId: Int = SchemaRegistry.baseSchemaId): DataFrame = {
    val buckets = BucketScan.occupiedBuckets(files)
    IceTable.packBuckets(
      BucketScan.read(spark, files, buckets, targetSchemaId),
      buckets.size, files)._1
  }

  /** Bucket-aligned read: a DataSource-V2 scan over the manifest-listed
    * files reporting `KeyGroupedPartitioning(bucket)` — the storage-
    * partitioned-join contract (the table-format scan the reference gets
    * from Iceberg, IcebergMetadataWriter.java:834-905). One input partition
    * per bucket in `buckets` (default: the buckets the files occupy; pass a
    * superset to align the partition-value universe with the other join
    * side). A downstream join keyed on (bucket, ...) against a side laid
    * out with `GraftSqlBridge.dataFrameWithKeyGroupedPartitioning` over the
    * SAME bucket list then needs NO exchange on either side — the CoW MERGE
    * target never shuffles, it is read in place per bucket, and driver plan
    * size stays flat in bucket count (one BatchScan node; file lists ride
    * the serialized input partitions).
    *
    * A join over it plans without an exchange only under
    * [[SessionScope.CoPartitionConfs]] at planning time; the merge and the
    * version diff scope them around their own planning. */
  def readFilesBucketAligned(spark: SparkSession, files: Seq[DataFileEntry],
      targetSchemaId: Int = SchemaRegistry.baseSchemaId,
      buckets: Option[Seq[Int]] = None): DataFrame = {
    require(files.nonEmpty || buckets.exists(_.nonEmpty),
      "bucket-aligned read of an empty file set needs an explicit bucket list")
    val bs = buckets.getOrElse(files.map(_.bucket).distinct.sorted)
    BucketScan.read(spark, files, bs, targetSchemaId)
  }

  // ---- writes -------------------------------------------------------------

  def bucketCol(repo: org.apache.spark.sql.Column,
                path: org.apache.spark.sql.Column,
                nBuckets: Int = -1): org.apache.spark.sql.Column =
    pmod(xxhash64(repo, path),
      lit(if (nBuckets > 0) nBuckets else numBuckets)).cast("int")

  /** Write rows (FileRow columns + `bucket`) as data files for `epochId`:
    * one shuffle keyed by bucket into [[IceTable.packedTasks]] partitions
    * (sized from `sourceFiles`, the manifest files the rows come from; every
    * bucket lands whole in one partition), into a STAGING dir, then publish
    * each file into `data/bucket=<b>/e<epochId>-<name>` by rename
    * (staging→output atomicity; a crash mid-publish leaves only unreferenced
    * orphans). Each task writes one file per bucket it holds.
    * `alignedByBucket = true` skips the repartition when every bucket
    * already sits whole in one input partition (bucket-aligned MERGE or
    * compaction output, possibly packed by [[IceTable.packBuckets]]).
    * Published entries carry footer stats (rows + lastSeq min-max) from one
    * pooled metadata pass — the feed-pruning/verifier inputs. Every file's
    * rows are sorted by `(repo, path)`, and its entry says so
    * (`sortedByKey`), so a scan of it can report that order. */
  def writeEpochFiles(df: DataFrame, epochId: Long,
      schemaId: Int = SchemaRegistry.baseSchemaId,
      alignedByBucket: Boolean = false,
      nBuckets: Int = -1,
      sourceFiles: Seq[DataFileEntry] = Nil): Seq[DataFileEntry] =
    writeEpochFilesTimed(df, epochId, schemaId, alignedByBucket, nBuckets,
      sourceFiles).files

  /** [[writeEpochFiles]], also timing its write job, publish and stats. */
  def writeEpochFilesTimed(df: DataFrame, epochId: Long, schemaId: Int,
      alignedByBucket: Boolean, nBuckets: Int,
      sourceFiles: Seq[DataFileEntry] = Nil): IceTable.EpochWrite = {
    val f = fs
    val nb = if (nBuckets > 0) nBuckets else numBuckets
    val staging = new HPath(stagingDir, s"e$epochId-${System.nanoTime()}")
    val parted =
      if (alignedByBucket) df
      else df.repartition(
        IceTable.packedTasks(df.sparkSession, nb, sourceFiles), col("bucket"))
    val writer = parted.sortWithinPartitions("bucket", "repo", "path")
      .write.options(LocalFs.keys(df.sparkSession) ++
        IceTable.noDictionary(schemaId)).mode("overwrite")
      .partitionBy("bucket")
    val t0 = System.nanoTime()
    writer.parquet(staging.toString)
    val t1 = System.nanoTime()
    // publish: move every staged file under the flat single-level data
    // layout, its name tagged with the epoch
    val sortedEntries = f.listStatus(staging).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap { d =>
        val bucket = d.getPath.getName.stripPrefix("bucket=").toInt
        val destDir = new HPath(dataDir, s"bucket=$bucket")
        f.mkdirs(destDir)
        f.listStatus(d.getPath).iterator
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map { s =>
            val dest = new HPath(destDir, s"e$epochId-" + s.getPath.getName)
            if (!f.rename(s.getPath, dest))
              throw new IllegalStateException(s"publish failed: $dest")
            DataFileEntry(dest.toString, bucket, -1L, schemaId, s.getLen,
              sortedByKey = true)
          }
      }.toSeq.sortBy(e => (e.bucket, e.path))
    f.delete(staging, true)
    val t2 = System.nanoTime()
    val files = FileStats.fillAll(hconf, sortedEntries)
    IceTable.EpochWrite(files, (t1 - t0) / 1000000L, (t2 - t1) / 1000000L,
      (System.nanoTime() - t2) / 1000000L)
  }

  /** Publish byte copies of `source`'s data `files` into this table's
    * layout under their own bucket and name, on the calling thread: each
    * file is copied into one fresh staging dir, then renamed into
    * `data/bucket=<b>/<name>`, replacing a same-named file that a crashed
    * earlier copy left there (never adopting it, so every published file
    * carries a fresh mtime for the orphan sweep's grace). Returns the
    * entries at their new paths with their footer stats kept; the caller
    * commits them. */
  def copyFilesFrom(source: IceTable,
      files: Seq[DataFileEntry]): Seq[DataFileEntry] = {
    if (files.isEmpty) return Nil
    val (f, src, conf) = (fs, source.fs, hconf)
    val staging = new HPath(stagingDir, s"copy-${System.nanoTime()}")
    val copied = files.map { e =>
      // one write task's files share a name across buckets
      val rel = s"bucket=${e.bucket}/${new HPath(e.path).getName}"
      val staged = new HPath(staging, rel)
      org.apache.hadoop.fs.FileUtil.copy(src, new HPath(e.path), f, staged,
        false, conf)
      val dest = new HPath(dataDir, rel)
      f.mkdirs(dest.getParent)
      if (f.exists(dest)) f.delete(dest, false)
      if (!f.rename(staged, dest))
        throw new IllegalStateException(s"publish failed: $dest")
      e.copy(path = dest.toString)
    }
    f.delete(staging, true)
    copied
  }

  /** All PUBLISHED data files of the given epoch (committed or orphaned). */
  def listEpochFiles(epochId: Long,
      schemaId: Int = SchemaRegistry.baseSchemaId): Seq[DataFileEntry] = {
    val prefix = s"e$epochId-"
    epochFileStatuses(prefix).map { case (bucket, s) =>
      DataFileEntry(s.getPath.toString, bucket, -1L, schemaId, s.getLen)
    }.sortBy(e => (e.bucket, e.path))
  }

  private def epochFileStatuses(prefix: String): Seq[(Int, FileStatus)] = {
    val f = fs
    if (!f.exists(dataDir)) return Seq.empty
    f.listStatus(dataDir).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap { d =>
        val bucket = d.getPath.getName.stripPrefix("bucket=").toInt
        f.listStatus(d.getPath).iterator
          .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
          .map(bucket -> _)
      }.toSeq
  }

  /** Commit a schema evolution: new snapshot, same files, new schemaId —
    * metadata-only, atomic with the snapshot publish. */
  def evolveSchema(toSchemaId: Int): EpochManifest = {
    val parent = currentManifest().getOrElse(
      EpochManifest(-1L, -1L, SchemaRegistry.baseSchemaId, Nil, Nil,
        EpochStats(0, 0, 0, 0, 0), -2L))
    SchemaRegistry.validateEvolution(
      SchemaRegistry.schemaFor(parent.schemaId),
      SchemaRegistry.schemaFor(toSchemaId))
    commit(parent.copy(
      version = parent.version + 1,
      schemaId = toSchemaId,
      parentVersion = parent.version))
  }

  /** Snapshot ROLLBACK (ops): re-point the table at retained version `v`'s
    * state under a FRESH version — a metadata-only commit copying v's
    * files, schema, offsets, completeness watermark, and bucket layout
    * (Iceberg's rollback-to-snapshot shape: O(metadata), no data IO; v's
    * files are guaranteed on disk because retention never deletes files a
    * retained snapshot references). Readers see v's state immediately;
    * time travel to the in-between versions still works until they expire.
    *
    * HARD rollback is NOT CDC-consistent — committed offsets REGRESS, so:
    *  - change-feed consumers whose start version predates the rollback
    *    cannot interpret the window (rows mostly fenced, vanished keys
    *    never emit deletes): restart feed consumers from scratch;
    *  - a MIRROR cannot be mechanically rolled back (its own feed
    *    consumers would see state move backwards) — MirrorJob detects the
    *    offset regression and FAILS LOUDLY; rebuild replicas.
    * For a rollback downstream consumers can follow, use
    * [[graft.maintenance.Revert.revertTo]]: a COMPENSATING EPOCH (normal
    * commit, fresh seqs) that restores v's user-visible state while
    * offsets keep advancing.
    *
    * The purge mark is kept at the max of both manifests (monotone), and
    * the rollback commit's epochId tags the operation so operators can see
    * it in history(). */
  def rollbackTo(v: Long): EpochManifest = {
    val cur = currentManifest().getOrElse(
      throw new IllegalStateException("rollbackTo on an empty table"))
    require(v >= 0 && v <= cur.version,
      s"rollbackTo($v): no such version (current ${cur.version})")
    if (v == cur.version) return cur
    val target =
      try readManifest(v)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"rollbackTo($v): version expired by retention; " +
              s"earliest retained: ${history().headOption.map(_.version)}")
      }
    commit(target.copy(
      version = cur.version + 1,
      parentVersion = cur.version,
      epochId = 1300000000L + v, // ops tag: visible in history()
      purgedBelowSeq =
        math.max(cur.purgedBelowSeq, target.purgedBelowSeq)))
  }

  /** Register the CURRENT snapshot's user view under a SQL-queryable name
    * (the reference's publish-time catalog registration,
    * gobblin-core/.../publisher/HiveRegistrationPublisher.java:71;
    * gobblin-hive-registration). Re-invoked after each commit so
    * `spark.sql("SELECT ... FROM name")` always reads the latest snapshot;
    * the view pins THIS manifest's file list, so an in-flight query is
    * snapshot-isolated from later commits. */
  def registerView(spark: SparkSession, name: String): Unit =
    read(spark).createOrReplaceTempView(name)

  /** Remove data files for a given epoch that were never committed (crash
    * cleanup); safe because readers only see manifest-listed files. Also
    * clears any staging leftovers of that epoch. */
  def dropUncommittedEpochFiles(epochId: Long): Unit = {
    val f = fs
    val committed: Set[String] = currentManifest()
      .map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    val published = epochFileStatuses(s"e$epochId-")
    if (!published.exists { case (_, s) => committed.contains(s.getPath.toString) })
      published.foreach { case (_, s) => f.delete(s.getPath, false) }
    if (f.exists(stagingDir))
      f.listStatus(stagingDir).iterator
        .filter(_.getPath.getName.startsWith(s"e$epochId-"))
        .foreach(s => f.delete(s.getPath, true))
  }
}

object IceTable {
  /** an epoch write's published files and per-phase wall milliseconds */
  final case class EpochWrite(files: Seq[DataFileEntry], writeJobMs: Long,
      publishMs: Long, footerStatsMs: Long)

  /** Task count for a stage laid out one partition per bucket: one task per
    * core, raised to what the stage's manifest bytes need at
    * `spark.sql.files.maxPartitionBytes` each, capped at the bucket
    * partitions. A small stage thus pays the fixed per-task cost once per
    * core, not once per bucket (the reference's MultiWorkUnit bin-packing,
    * MultiWorkUnit.java:46,68), while a large one keeps a task per bucket.
    * A file without a recorded size counts as a full task's bytes. */
  def packedTasks(spark: SparkSession, bucketPartitions: Int,
      files: Seq[DataFileEntry]): Int = {
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = files.map(f => if (f.bytes >= 0) f.bytes else maxBytes).sum
    val byBytes = (bytes + maxBytes - 1) / maxBytes
    math.min(bucketPartitions.toLong,
      math.max(spark.sparkContext.defaultParallelism.toLong, byBytes)).toInt
  }

  /** Pack a bucket-aligned `df` (one partition per bucket,
    * `bucketPartitions` of them, reading `files`) into [[packedTasks]]
    * tasks. `coalesce` is narrow: no shuffle, and each bucket stays whole
    * inside one task, so an aligned join above the scans keeps zero
    * exchanges and a bucket write keeps one file per bucket. Returns the
    * packed frame and its task count. */
  def packBuckets(df: DataFrame, bucketPartitions: Int,
      files: Seq[DataFileEntry]): (DataFrame, Int) = {
    val k = packedTasks(df.sparkSession, bucketPartitions, files)
    (if (k < bucketPartitions) df.coalesce(k) else df, k)
  }

  /** Write options turning parquet's dictionary off for the columns whose
    * values are unique per row: `content` (colId 5), `contentSha` (colId 6)
    * and the physical `lastSeq`. Parquet hashed every such value into a
    * dictionary, then dropped it at the page flush and wrote the chunk
    * PLAIN. Looked up by colId, so a rename keeps the setting. `repo` and
    * `path` keep theirs (lookups prune on them), and so do `commit` and
    * `lang` (their values repeat across paths). */
  private def noDictionary(schemaId: Int): Map[String, String] = {
    val byId = SchemaRegistry.schemaFor(schemaId).byColId
    (Seq(5, 6).flatMap(byId.get).map(_.name) :+ "lastSeq")
      .map(c => s"parquet.enable.dictionary#$c" -> "false").toMap
  }

  def create(dir: String, numBuckets: Int = 32): IceTable =
    new IceTable(dir, numBuckets).init()
}
