package graft.log

import graft.functions.ZipfPick
import graft.functions.ZipfPick.unit
import graft.model.ChangeEvent
import graft.table.LocalFs
import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * Deterministic synthetic change-log generator — the engine's analog of the
 * reference's deterministic test source
 * (gobblin-core-base/.../test/SequentialTestSource.java:112-158).
 *
 * Every event is a PURE function of `(seed, seq)`: generation is stateless,
 * so the same log is produced regardless of Spark partitioning or cluster
 * size, and the in-memory oracle can regenerate any slice independently.
 * This is what lets correctness tests replay "the same" 10^N-event log at any
 * parallelism.
 *
 * Skew: repo popularity follows a Zipf(s) distribution so a hot repo absorbs
 * a large share of events (FIXTURES.md §6). Buckets hash the whole
 * (repo, path) key, so the distinct keys of even a hot repo spread evenly
 * across them.
 */
final case class LogSpec(
    seed: Long = 42L,
    nEvents: Long = 100000L,
    nRepos: Int = 100,
    nPathsPerRepo: Int = 200,
    zipfExponent: Double = 1.2,
    pDelete: Double = 0.05,
    contentWords: Int = 40)

object ChangeLogGen {

  /** splitmix64 — public-domain mix function; stateless PRNG keyed by input. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private val wordList: Array[String] = Array(
    "def", "class", "object", "val", "var", "match", "case", "import",
    "return", "public", "static", "void", "int", "string", "map", "list",
    "spark", "dataset", "column", "filter", "select", "join", "group",
    "merge", "commit", "offset", "epoch", "snapshot", "schema", "table",
    "stream", "batch", "shuffle", "partition", "hash", "sort", "write",
    "read", "index", "buffer", "cache", "flush", "sync", "async", "retry",
    "state", "lineage", "delta", "apply", "fold", "scan")

  /** Zipf CDF over repo ranks (precomputed once, broadcast by closure). */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf(n - 1) = 1.0
    cdf
  }

  /** The pure per-sequence event function. */
  def eventAt(spec: LogSpec, cdf: Array[Double], seq: Long): ChangeEvent = {
    val h0 = mix64(spec.seed ^ seq)
    val repoIdx = ZipfPick.pick(h0, cdf)
    val h1 = mix64(h0 ^ 0x51L)
    val pathIdx = ((h1 >>> 17) % spec.nPathsPerRepo).toInt
    val h2 = mix64(h1 ^ 0x52L)
    val isDelete = unit(h2) < spec.pDelete
    // i vs u both mean "upsert" under last-writer-wins; the flag only records
    // what the source claimed (first-writer knowledge needs global state the
    // generator intentionally does not have).
    val op = if (isDelete) "d" else if (unit(mix64(h2 ^ 0x53L)) < 0.5) "i" else "u"
    val lang = pathIdx % 4 match {
      case 0 => "scala"; case 1 => "java"; case 2 => "py"; case 3 => "md"
    }
    val ext = lang match {
      case "scala" => "scala"; case "java" => "java"; case "py" => "py"; case _ => "md"
    }
    val repo = f"org${repoIdx % 10}%d/repo-$repoIdx%04d"
    val path = f"src/dir${pathIdx % 8}%d/File$pathIdx%04d.$ext%s"
    val commit = {
      val a = mix64(h2 ^ 0x54L); val b = mix64(h2 ^ 0x55L)
      val c = mix64(h2 ^ 0x56L)
      f"$a%016x$b%016x${c & 0xffffffffL}%08x"
    }
    val content =
      if (isDelete) ""
      else {
        val sb = new java.lang.StringBuilder(spec.contentWords * 7)
        var i = 0
        var h = mix64(h2 ^ 0x57L)
        while (i < spec.contentWords) {
          if (i > 0) sb.append(if (i % 10 == 0) '\n' else ' ')
          sb.append(wordList(((h >>> 13) % wordList.length).toInt))
          h = mix64(h)
          i += 1
        }
        sb.append(" // seq=").append(seq)
        sb.toString
      }
    ChangeEvent(op, seq, repo, path, commit, lang, content)
  }

  /** Distributed generation: `spark.range` keeps it a pure narrow map — no
    * shuffle, scales linearly with cores/executors. Uses the pure-Column
    * formulation (no per-row JVM object churn); bit-identical to
    * [[eventAt]] (asserted by GeneratorParitySpec). */
  def generate(spark: SparkSession, spec: LogSpec): Dataset[ChangeEvent] = {
    import spark.implicits._
    generateExprDf(spark, spec).as[ChangeEvent]
  }

  /** Reference row-at-a-time generation (kept as the semantic oracle for
    * the Column-expression path). */
  def generateMapped(spark: SparkSession, spec: LogSpec): Dataset[ChangeEvent] = {
    import spark.implicits._
    val cdf = zipfCdf(spec.nRepos, spec.zipfExponent)
    spark.range(0, spec.nEvents).map(seq => eventAt(spec, cdf, seq))
  }

  /** Column-expression replica of [[eventAt]]: whole-stage-codegen'd, no
    * Dataset.map encoder round-trip — the generated code builds UTF8Strings
    * directly. Long arithmetic wraps like Java, so splitmix64 is exact. */
  def generateExprDf(spark: SparkSession,
                     spec: LogSpec): org.apache.spark.sql.DataFrame =
    generateExprSlice(spark, spec, 0L, spec.nEvents)

  /** [[generateExprDf]] over the seq range `[fromSeq, untilSeq)` — the
    * epoch-slice form ReplayJob feeds to the engine. The per-row work is
    * pure codegen: splitmix64 and the Zipf rank pick are native expressions
    * (a Column-lambda CDF scan is O(nRepos) per row and defeats CSE — see
    * ZipfPick), content is a single-StringBuilder native expression
    * (ContentGen), and everything else is built-in string/arith Columns, so
    * the envelope-pruned dedup scan never materializes content bytes at
    * all (a closure-built Dataset computes every field for every row). */
  def generateExprSlice(spark: SparkSession, spec: LogSpec, fromSeq: Long,
                        untilSeq: Long): org.apache.spark.sql.DataFrame =
    generateRange(spec, spark.range(fromSeq, untilSeq))

  /** The events of the seqs in `ids` (a `spark.range`), partition by
    * partition: no shuffle, so each partition keeps its seq range. */
  private def generateRange(spec: LogSpec,
      ids: Dataset[java.lang.Long]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val cdf = zipfCdf(spec.nRepos, spec.zipfExponent)

    // wrapping 64-bit arithmetic needs the native expression under ANSI mode
    def mixC(x0: Column): Column = graft.functions.Mix64.mix64(x0)
    def unitC(h: Column): Column =
      shiftrightunsigned(h, 11).cast("double") / lit((1L << 53).toDouble)
    def hex16(c: Column): Column = lpad(lower(hex(c)), 16, "0")

    val langs = array(lit("scala"), lit("java"), lit("py"), lit("md"))

    ids.select(col("id").as("seq"))
      .withColumn("h0", mixC(lit(spec.seed).bitwiseXOR(col("seq"))))
      .withColumn("repoIdx",
        graft.functions.ZipfPick.zipfPick(col("h0"), cdf.toIndexedSeq))
      .withColumn("h1", mixC(col("h0").bitwiseXOR(lit(0x51L))))
      .withColumn("pathIdx",
        (shiftrightunsigned(col("h1"), 17) % spec.nPathsPerRepo).cast("int"))
      .withColumn("h2", mixC(col("h1").bitwiseXOR(lit(0x52L))))
      .withColumn("isDel", unitC(col("h2")) < spec.pDelete)
      .withColumn("op",
        when(col("isDel"), "d")
          .when(unitC(mixC(col("h2").bitwiseXOR(lit(0x53L)))) < 0.5, "i")
          .otherwise("u"))
      .withColumn("lang", element_at(langs, col("pathIdx") % 4 + 1))
      .withColumn("repo", concat(lit("org"), (col("repoIdx") % 10),
        lit("/repo-"), lpad(col("repoIdx").cast("string"), 4, "0")))
      .withColumn("path", concat(lit("src/dir"), col("pathIdx") % 8,
        lit("/File"), lpad(col("pathIdx").cast("string"), 4, "0"),
        lit("."), col("lang")))
      .withColumn("commit", concat(
        hex16(mixC(col("h2").bitwiseXOR(lit(0x54L)))),
        hex16(mixC(col("h2").bitwiseXOR(lit(0x55L)))),
        lpad(lower(hex(mixC(col("h2").bitwiseXOR(lit(0x56L)))
          .bitwiseAND(lit(0xffffffffL)))), 8, "0")))
      .withColumn("content",
        when(col("isDel"), "")
          .otherwise(graft.functions.ContentGen.contentGen(
            col("h2"), col("seq"), spec.contentWords,
            wordList.toIndexedSeq)))
      .select(col("op"), col("seq"), col("repo"), col("path"),
        col("commit"), col("lang"), col("content"))
  }

  /** Pure-Scala generation for the in-memory oracle (small scales only). */
  def generateLocal(spec: LogSpec): Iterator[ChangeEvent] = {
    val cdf = zipfCdf(spec.nRepos, spec.zipfExponent)
    Iterator.range(0L, spec.nEvents).map(seq => eventAt(spec, cdf, seq))
  }

  /** Materialize the log as a partitioned parquet directory (the "binlog")
    * in one pass: `nFiles` files, each one contiguous `seq` range straight
    * from `spark.range`'s slices, so that offset-range reads prune. */
  def writeLog(spark: SparkSession, spec: LogSpec, dir: String,
               nFiles: Int = 32): Unit =
    generateRange(spec, spark.range(0L, spec.nEvents, 1L, nFiles))
      .write.options(LocalFs.keys(spark)).mode("overwrite").parquet(dir)
}
