package graft.queries

import graft.driver.{MirrorJob, ReplayJob}
import graft.model.ChangeEvent
import graft.table.{ChangeFeed, GraftCatalog, IceTable}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * CDC-semantics queries over the driver's `events` table, including the
 * flagship: the REAL ingest engine (IceTable + MergeEngine) replaying an
 * events-derived change log, verified against a plain-SQL last-writer-wins
 * fold in DuckDB. This gives the engine's end-to-end path an external oracle
 * beyond the in-repo tests.
 *
 * Mapping events → ChangeEvent (deterministic, no floats in the payload):
 *   seq = event_id, key = (repo = 'r'||user_id%10, path = user_id),
 *   op = 'd' when event_type='error' else 'u',
 *   content = event_type||'#'||user_id||'#'||event_id (empty for deletes).
 */
object CdcQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** Run `f` with the derived log PERSISTED (guide §5: reused ≥3× per
    * engine query — bounds aggregate + 2 scans per epoch — and recomputing
    * it repeats the parquet scan and the derive projection each time;
    * caching it removes 5–9 input passes per query). Always unpersisted
    * before returning: the engine work inside `f` runs eagerly, and the
    * DataFrame each query returns reads the engine table's own files, so
    * nothing cached leaks past the query invocation. Recomputed from the
    * parquet inputs on every invocation — an intra-query intermediate, not
    * a cross-run cache. */
  private def withCachedLog[T](s: SparkSession, d: String)(
      f: Dataset[ChangeEvent] => T): T = {
    import s.implicits._
    val log = deriveLog(s, d).as[ChangeEvent]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(log) finally { log.unpersist(); () }
  }

  /** Codegen-stable epoch slice `(lo, hi]` of the log: the bounds ride a
    * codegen REFERENCE OBJECT (graft.functions.IntervalInside), not inlined
    * literals, so every epoch's scan stage generates the same source and
    * hits the whole-stage-codegen cache — a literal `seq > lo && seq <= hi`
    * recompiled the stage for each epoch (and each engine query). */
  private def sliceSeq(log: Dataset[ChangeEvent], lo: Long,
      hi: Long): Dataset[ChangeEvent] =
    log.filter(graft.functions.IntervalInside(lit(0), col("seq"),
      Map(0 -> Seq((lo, hi)))))

  /** events table → CDC change-event DataFrame (shared by Spark + oracle). */
  def deriveLog(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      when(col("event_type") === "error", "d").otherwise("u").as("op"),
      col("event_id").as("seq"),
      concat(lit("r"), (col("user_id") % 10).cast("string")).as("repo"),
      col("user_id").cast("string").as("path"),
      col("event_id").cast("string").as("commit"),
      col("event_type").as("lang"),
      when(col("event_type") === "error", "")
        .otherwise(concat(col("event_type"), lit("#"),
          col("user_id").cast("string"), lit("#"),
          col("event_id").cast("string"))).as("content"))

  /** one shutdown hook per distinct work dir: the pid-scoped engine dirs
    * are reusable across invocations WITHIN a process but must not
    * accumulate across processes. The hook covers clean exits; the sweep
    * below covers SIGKILL/OOM-killed processes, whose dirs no later run
    * would otherwise ever name again (full table copies → /tmp fill). */
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerCleanup(dir: String): Unit =
    if (cleanupRegistered.add(dir)) {
      sweepStaleDirs
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils
          .deleteQuietly(new java.io.File(dir)): Unit))
    }

  /** once per process: delete graft-engine-q-<pid>-* dirs whose owning
    * process is dead (crashed runs that never ran their shutdown hook).
    * Best-effort by construction — a sweep failure (unparseable foreign
    * dir name, ProcessHandle error) must never fail the query. */
  private lazy val sweepStaleDirs: Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val Stale = """graft-engine-q-(\d+)-.*""".r
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      scala.util.Try {
        f.getName match {
          case Stale(pidStr) if f.isDirectory =>
            pidStr.toLongOption.foreach { pid =>
              if (pid != ProcessHandle.current().pid() &&
                  !ProcessHandle.of(pid).map[Boolean](_.isAlive)
                    .orElse(false))
                org.apache.commons.io.FileUtils.deleteQuietly(f): Unit
            }
          case _ => ()
        }
      }: Unit
    }
  }

  private val deriveSql =
    """SELECT CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
              event_id AS seq,
              'r' || CAST(user_id % 10 AS VARCHAR) AS repo,
              CAST(user_id AS VARCHAR) AS path,
              CAST(event_id AS VARCHAR) AS "commit",
              event_type AS lang,
              CASE WHEN event_type = 'error' THEN ''
                   ELSE event_type || '#' || CAST(user_id AS VARCHAR) || '#'
                        || CAST(event_id AS VARCHAR) END AS content
       FROM events"""

  private val foldSql =
    s"""WITH log AS ($deriveSql),
        latest AS (
          SELECT *, row_number() OVER (PARTITION BY repo, path
            ORDER BY seq DESC) AS rn
          FROM log)
        SELECT repo, path, "commit", lang, content,
               sha256(content) AS contentSha
        FROM latest WHERE rn = 1 AND op <> 'd'
        ORDER BY repo, path"""

  val queries: Map[String, Q] = Map(
    "c1_cdc_latest" -> ((s, d) => {
      // latest event per user — max_by hash aggregate, not a window sort
      events(s, d)
        .groupBy("user_id")
        .agg(
          max_by(col("event_type"), col("event_id")).as("last_type"),
          max(col("event_id")).as("last_event_id"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    "c2_cdc_fold" -> ((s, d) => {
      // pure-Spark last-writer-wins fold of the derived change log
      val log = deriveLog(s, d)
      log.groupBy("repo", "path")
        .agg(max_by(struct(col("op"), col("commit"), col("lang"),
          col("content")), col("seq")).as("e"))
        .filter(col("e.op") =!= "d")
        .select(col("repo"), col("path"), col("e.commit").as("commit"),
          col("e.lang").as("lang"), col("e.content").as("content"),
          sha2(col("e.content"), 256).as("contentSha"))
        .orderBy("repo", "path")
    }),

    "c3_cdc_engine_replay" -> ((s, d) => {
      // FLAGSHIP: the actual engine — 4-epoch replay through IceTable with
      // offset fencing, dedup, CoW merge, manifest commits — must reproduce
      // the SQL fold byte-for-byte (sha256 parity via DuckDB oracle).
      import s.implicits._
      // ONE reusable work dir per (process, source dataset), recreated per
      // invocation: a fresh createTempDirectory each run leaked a full table
      // copy under /tmp for every Verify/bench rep and would eventually fill
      // the disk. The pid component keeps two concurrent drivers over the
      // same dataset (e.g. Verify and Bench in parallel) from deleting each
      // other's live engine table mid-query, and disambiguates hashCode
      // collisions across dataset paths within a process lifetime.
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-engine-q-" +
        s"${ProcessHandle.current().pid()}-" +
        Integer.toHexString(d.hashCode)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
      registerCleanup(tmp) // pid-scoped dirs must not outlive the process
      val table = IceTable.create(s"$tmp/table", numBuckets = 16)
      withCachedLog(s, d) { log =>
        val bounds = log.agg(min($"seq"), max($"seq")).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val n = hi - lo + 1
        val nEpochs = 4
        val per = math.max(1L, n / nEpochs)
        val ranges = (0 until nEpochs).map { e =>
          (e.toLong, lo + e * per - 1,
            if (e == nEpochs - 1) hi else lo + (e + 1) * per - 1)
        }
        ReplayJob.run(s, table,
          id => { val (_, l, h) = ranges(id.toInt)
            sliceSeq(log, l, h) },
          ranges, nLogPartitions = 16)
      }
      table.read(s)
        .select("repo", "path", "commit", "lang", "content", "contentSha")
        .orderBy("repo", "path")
    }),

    "c6_cdc_changes" -> ((s, d) => {
      // CHANGE DATA FEED between two committed snapshots: replay the
      // derived log's first half into version A, its second half into
      // version B, then emit IceTable.changesBetween(A, B) — the
      // version-diff CDC stream a downstream consumer incrementally syncs
      // from (only files that DIFFER between the two manifests are read).
      // Two-step oracle: both raw states export to parquet and DuckDB
      // re-derives the diff (liveness rules incl. tombstones) independently
      // of the Spark join.
      import s.implicits._
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-engine-q-" +
        s"${ProcessHandle.current().pid()}-" +
        Integer.toHexString(d.hashCode) + "-cdf"
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
      registerCleanup(tmp)
      val table = IceTable.create(s"$tmp/table", numBuckets = 16)
      val (vA, vB) = withCachedLog(s, d) { log =>
        val bounds = log.agg(min($"seq"), max($"seq")).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val n = hi - lo + 1
        val nEpochs = 4
        val per = math.max(1L, n / nEpochs)
        val ranges = (0 until nEpochs).map { e =>
          (e.toLong, lo + e * per - 1,
            if (e == nEpochs - 1) hi else lo + (e + 1) * per - 1)
        }
        def loader(id: Long): Dataset[ChangeEvent] = {
          val (_, l, h) = ranges(id.toInt)
          sliceSeq(log, l, h)
        }
        ReplayJob.run(s, table, loader, ranges.take(2), nLogPartitions = 16)
        val a = table.currentVersion()
        ReplayJob.run(s, table, loader, ranges.drop(2), nLogPartitions = 16)
        (a, table.currentVersion())
      }
      def rawState(v: Long): DataFrame = {
        val m = table.readManifest(v)
        table.readFiles(s, m.files, m.schemaId)
          .select("repo", "path", "commit", "lang", "content", "contentSha",
            "lastSeq", "deleted")
      }
      OracleAux.export(rawState(vA), "c6_state_a")
      OracleAux.export(rawState(vB), "c6_state_b")
      table.changesBetween(s, vA, vB).orderBy("repo", "path")
    }),

    "c7_change_feed" -> ((s, d) => {
      // ENVELOPE-SHAPED CHANGE FEED via the SQL-catalog surface
      // (graft.table.ChangeFeedTable, `<cat>.<table>.changes`): replay the
      // log's first half into version A and the rest into version B,
      // register the table by NAME in a durable GraftCatalog, then read
      // `spark.read.option("startingVersion", A).table("graftq.commits
      // .changes")` — the incremental plan reads only files that DIFFER
      // between the two manifests and row-fences carried rows, never
      // O(table). Two-step oracle: the feed from A is EXACTLY B's physical
      // rows whose lastSeq lies outside A's committed intervals (files
      // shared by both manifests are immutable, so every row they hold is
      // fenced; new files are row-fenced by the readers), so DuckDB
      // re-derives the feed from B's exported raw state + A's fence.
      import s.implicits._
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-engine-q-" +
        s"${ProcessHandle.current().pid()}-" +
        Integer.toHexString(d.hashCode) + "-feed"
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
      registerCleanup(tmp)
      val table = IceTable.create(s"$tmp/table", numBuckets = 16)
      val (vA, vB) = withCachedLog(s, d) { log =>
        val bounds = log.agg(min($"seq"), max($"seq")).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        // two epochs suffice here (c3/c6 already oracle the 4-epoch replay;
        // this query's subject is the FEED surface between two snapshots)
        val mid = lo + math.max(1L, (hi - lo + 1) / 2) - 1
        val ranges = Seq((0L, lo - 1, mid), (1L, mid, hi))
        def loader(id: Long): Dataset[ChangeEvent] = {
          val (_, l, h) = ranges(id.toInt)
          sliceSeq(log, l, h)
        }
        ReplayJob.run(s, table, loader, ranges.take(1), nLogPartitions = 16)
        val a = table.currentVersion()
        ReplayJob.run(s, table, loader, ranges.drop(1), nLogPartitions = 16)
        (a, table.currentVersion())
      }
      val mB = table.readManifest(vB)
      OracleAux.export(
        table.readFiles(s, mB.files, mB.schemaId)
          .select("repo", "path", "commit", "lang", "content", "contentSha",
            "lastSeq", "deleted"), "c7_state_b")
      OracleAux.export(
        ChangeFeed.mergedFence(Some(table.readManifest(vA))).toSeq
          .toDF("lo", "hi"), "c7_fence_a")
      // the catalog dir is pid-deterministic: Spark caches catalog
      // instances by name, and a repeat invocation re-registers into the
      // SAME path the cached instance already points at
      val catDir = s"$tmp/cat"
      GraftCatalog.create(catDir)
        .register("commits", table.dir, defaultNumBuckets = 16)
      s.conf.set("spark.sql.catalog.graftq", "graft.table.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.graftq.dir", catDir)
      s.read.option("startingVersion", vA.toString)
        .table("graftq.commits.changes")
        // metadata columns (_commit_version/_schema_id) are run-dependent
        // plumbing for feed-driven consumers, not part of the value oracle
        .drop(ChangeFeed.CommitVersionCol, ChangeFeed.SchemaIdCol)
        .orderBy("repo", "path")
    }),

    "c8_mirror" -> ((s, d) => {
      // TABLE MIRRORING (graft.driver.MirrorJob): replay the log's first
      // half into an UPSTREAM table, bootstrap a mirror replica from it,
      // replay the rest upstream (updates AND deletes), then sync again —
      // the second sync copies only the files the mirror does not hold
      // yet and commits the upstream's offsets with them. The emitted
      // MIRROR user view must equal the full-log LWW fold byte-for-byte
      // (same DuckDB oracle as the direct replay c3): replay ∘ sync ≡ fold
      // is exactly the replica-correctness contract.
      import s.implicits._
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-engine-q-" +
        s"${ProcessHandle.current().pid()}-" +
        Integer.toHexString(d.hashCode) + "-mir"
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
      registerCleanup(tmp)
      val up = IceTable.create(s"$tmp/up", numBuckets = 16)
      val mir = IceTable.create(s"$tmp/mir", numBuckets = 16)
      withCachedLog(s, d) { log =>
        val bounds = log.agg(min($"seq"), max($"seq")).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val n = hi - lo + 1
        val nEpochs = 4
        val per = math.max(1L, n / nEpochs)
        val ranges = (0 until nEpochs).map { e =>
          (e.toLong, lo + e * per - 1,
            if (e == nEpochs - 1) hi else lo + (e + 1) * per - 1)
        }
        def loader(id: Long): Dataset[ChangeEvent] = {
          val (_, l, h) = ranges(id.toInt)
          sliceSeq(log, l, h)
        }
        ReplayJob.run(s, up, loader, ranges.take(2), nLogPartitions = 16)
        MirrorJob.sync(s, up, mir, nLogPartitions = 16) // bootstrap
        ReplayJob.run(s, up, loader, ranges.drop(2), nLogPartitions = 16)
        MirrorJob.sync(s, up, mir, nLogPartitions = 16) // incremental delta
      }
      mir.read(s)
        .select("repo", "path", "commit", "lang", "content", "contentSha")
        .orderBy("repo", "path")
    }),

    "c9_sql_write" -> ((s, d) => {
      // SQL WRITE PATH (graft.table.SqlAppend via GraftSparkCatalog's
      // SupportsWrite): replay the log's FIRST half through the engine,
      // then land the SECOND half's per-key winners (upserts only) through
      // `df.writeTo("catalog.table").append()` — the INSERT front door.
      // The append is a normal engine epoch (dedup, LWW merge, counter
      // reconciliation, reserved-namespace seq allocation + claims), so
      // the final state must equal base-state-overridden-by-batch, which
      // DuckDB re-derives independently.
      import s.implicits._
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-engine-q-" +
        s"${ProcessHandle.current().pid()}-" +
        Integer.toHexString(d.hashCode) + "-sqlw"
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
      registerCleanup(tmp)
      val table = IceTable.create(s"$tmp/table", numBuckets = 16)
      withCachedLog(s, d) { log =>
        val bounds = log.agg(min($"seq"), max($"seq")).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val mid = lo + (hi - lo + 1) / 2 - 1
        val m1 = lo + (mid - lo + 1) / 2 - 1
        val ranges = Seq((0L, lo - 1, m1), (1L, m1, mid))
        ReplayJob.run(s, table,
          id => { val (_, l, h) = ranges(id.toInt)
            sliceSeq(log, l, h) },
          ranges, nLogPartitions = 16)
        // second-half winners as an INSERT batch (upserts only; contentSha
        // NULL — the engine derives it)
        val batch = log.filter($"seq" > mid && $"op" =!= "d")
          .groupBy($"repo", $"path")
          .agg(max_by(struct($"commit", $"lang", $"content"), $"seq").as("e"))
          .select($"repo", $"path", $"e.commit".as("commit"),
            $"e.lang".as("lang"), $"e.content".as("content"),
            lit(null).cast("string").as("contentSha"))
        val catDir = s"$tmp/cat"
        GraftCatalog.create(catDir)
          .register("commits", table.dir, defaultNumBuckets = 16)
        s.conf.set("spark.sql.catalog.graftw", "graft.table.GraftSparkCatalog")
        s.conf.set("spark.sql.catalog.graftw.dir", catDir)
        batch.writeTo("graftw.commits").append()
      }
      table.read(s)
        .select("repo", "path", "commit", "lang", "content", "contentSha")
        .orderBy("repo", "path")
    }),

    "c4_sessionize" -> ((s, d) => {
      // session = events of a user with <30min gaps (lag + running count)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wAll = Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts").cast("timestamp").cast("long") -
              col("prev_ts").cast("timestamp").cast("long") > 1800, 1)
            .otherwise(0))
        .withColumn("sess_id", sum("new_sess").over(wAll))
        .groupBy("user_id")
        .agg(max("sess_id").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    "c5_hourly_window" -> ((s, d) => {
      // event-time windowed aggregation (batch equivalent of the streaming
      // tumbling-window agg; Spark's window() start == date_trunc hour)
      events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .orderBy("hour", "event_type")
    })
  )

  val oracles: Map[String, String] = Map(
    "c1_cdc_latest" ->
      """SELECT user_id, last_type, last_event_id, n_events FROM (
           SELECT user_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn,
                  event_type AS last_type,
                  max(event_id) OVER (PARTITION BY user_id) AS last_event_id,
                  count(*) OVER (PARTITION BY user_id) AS n_events
           FROM events) t
         WHERE rn = 1 ORDER BY user_id""",
    "c2_cdc_fold" -> foldSql,
    "c3_cdc_engine_replay" -> foldSql,
    // the mirror replica must reproduce the same fold as the table it
    // replicates — replay ∘ sync ≡ fold (see the c8 query comment)
    "c8_mirror" -> foldSql,
    "c6_cdc_changes" ->
      """WITH a AS (SELECT * FROM read_parquet('__AUX__/.aux/c6_state_a/*.parquet')),
           b AS (SELECT * FROM read_parquet('__AUX__/.aux/c6_state_b/*.parquet')),
           j AS (
             SELECT coalesce(a.repo, b.repo) AS repo,
                    coalesce(a.path, b.path) AS path,
                    a.lastSeq AS o_seq, coalesce(a.deleted, FALSE) AS o_del,
                    b.lastSeq AS n_seq, coalesce(b.deleted, FALSE) AS n_del,
                    a."commit" AS o_commit, a.lang AS o_lang,
                    a.content AS o_content, a.contentSha AS o_sha,
                    b."commit" AS n_commit, b.lang AS n_lang,
                    b.content AS n_content, b.contentSha AS n_sha
             FROM a FULL JOIN b ON a.repo = b.repo AND a.path = b.path),
           c AS (
             SELECT CASE
                 WHEN (o_seq IS NULL OR o_del)
                      AND n_seq IS NOT NULL AND NOT n_del THEN 'insert'
                 WHEN o_seq IS NOT NULL AND NOT o_del
                      AND n_seq IS NOT NULL AND NOT n_del
                      AND o_seq <> n_seq THEN 'update'
                 WHEN o_seq IS NOT NULL AND NOT o_del
                      AND (n_seq IS NULL OR n_del) THEN 'delete'
               END AS change_type, * FROM j)
         SELECT change_type, repo, path,
                CASE WHEN change_type = 'delete' THEN o_commit
                     ELSE n_commit END AS "commit",
                CASE WHEN change_type = 'delete' THEN o_lang
                     ELSE n_lang END AS lang,
                CASE WHEN change_type = 'delete' THEN o_content
                     ELSE n_content END AS content,
                CASE WHEN change_type = 'delete' THEN o_sha
                     ELSE n_sha END AS contentSha,
                n_seq AS seq
         FROM c WHERE change_type IS NOT NULL
         ORDER BY repo, path""",

    "c7_change_feed" ->
      """WITH b AS (SELECT * FROM read_parquet('__AUX__/.aux/c7_state_b/*.parquet')),
           f AS (SELECT * FROM read_parquet('__AUX__/.aux/c7_fence_a/*.parquet'))
         SELECT CASE WHEN deleted THEN 'd' ELSE 'u' END AS op,
                lastSeq AS seq, repo, path, "commit", lang, content,
                contentSha
         FROM b
         WHERE NOT EXISTS (SELECT 1 FROM f
                           WHERE b.lastSeq > f.lo AND b.lastSeq <= f.hi)
         ORDER BY repo, path""",

    // final state = LWW fold of the first half, overridden by the second
    // half's per-key upsert winners (the SQL-inserted batch always wins:
    // its engine-allocated seqs live in the reserved upper namespace)
    "c9_sql_write" ->
      s"""WITH log AS ($deriveSql),
         bounds AS (SELECT min(seq) AS lo, max(seq) AS hi FROM log),
         k AS (SELECT lo + (hi - lo + 1) // 2 - 1 AS mid FROM bounds),
         base AS (
           SELECT repo, path, "commit", lang, content FROM (
             SELECT l.*, row_number() OVER (PARTITION BY repo, path
               ORDER BY seq DESC) AS rn
             FROM log l, k WHERE l.seq <= k.mid) t
           WHERE rn = 1 AND op <> 'd'),
         batch AS (
           SELECT repo, path, "commit", lang, content FROM (
             SELECT l.*, row_number() OVER (PARTITION BY repo, path
               ORDER BY seq DESC) AS rn
             FROM log l, k WHERE l.seq > k.mid AND l.op <> 'd') t
           WHERE rn = 1),
         merged AS (
           SELECT * FROM batch
           UNION ALL
           SELECT b.* FROM base b
           WHERE NOT EXISTS (SELECT 1 FROM batch x
                             WHERE x.repo = b.repo AND x.path = b.path))
         SELECT repo, path, "commit", lang, content,
                sha256(content) AS contentSha
         FROM merged ORDER BY repo, path""",

    "c4_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         m AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN prev_ts IS NULL
                       OR date_diff('second', prev_ts, ts) > 1800
                       THEN 1 ELSE 0 END AS new_sess
           FROM g),
         sess AS (
           SELECT user_id,
                  sum(new_sess) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM m)
         SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions,
                count(*) AS n_events
         FROM sess GROUP BY user_id ORDER BY user_id""",
    "c5_hourly_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
                round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""
  )
}
