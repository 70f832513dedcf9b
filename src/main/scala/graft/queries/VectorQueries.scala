package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Similarity search over the `embeddings` table (Array[Float] column).
 *
 * Determinism across engines: floats are quantized to integer milli-units
 * first, so dot products and norms are EXACT integer arithmetic
 * (order-independent) and the final cosine is one double division + sqrt —
 * bit-identical in Spark and DuckDB. This is what makes a float-heavy
 * operator oracle-checkable.
 *
 * Scale path: brute-force top-k is a crossJoin(broadcast(queries)) — the
 * right plan when the query set is small. The LSH variant (v3) buckets
 * vectors by random-hyperplane sign bits so candidate generation is a
 * bucket-equijoin instead of a cross product — the 100 TB shape.
 */
object VectorQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** quantized vector: round(x * 1000) as long per element */
  def qvec(c: Column): Column =
    transform(c, x => round(x.cast("double") * 1000, 0).cast("long"))

  /** integer dot product of two quantized vectors */
  def idot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** exact integer cosine rounded to 6dp — the ONE cross-engine similarity
    * contract every retrieval/near-dup query and its oracle share */
  def cosine6(qa: Column, qb: Column, na: Column, nb: Column): Column =
    round(idot(qa, qb).cast("double") /
      sqrt(na.cast("double") * nb.cast("double")), 6)

  /** shared retrieval tail: top-k per query_id by (cosine desc, vec_id asc),
    * output (query_id, rnk, neighbor_id, cosine) ordered */
  private def topKPerQuery(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("vec_id"))
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .orderBy("query_id", "rnk")
  }

  /** random-hyperplane LSH bucket from `nBits` sign bits of fixed pseudo-
    * random integer planes starting at `planeOffset` (plane p component i =
    * ((p*73 + i*37) % 19) - 9). Pure integer arithmetic over the quantized
    * vector — deterministic and reproducible in any engine (this is what
    * makes the LSH path value-oracle-checkable, unlike a hash-seeded
    * projection).
    *
    * This Column-tree formulation codegens one full element loop PER PLANE;
    * the queries use the native one-pass `functions.LshBuckets` expression
    * (bit-identical; cross-checked in OperatorsSpec) and this stays as the
    * semantic reference. */
  def lshBucket(q: Column, planeOffset: Int, nBits: Int): Column =
    (0 until nBits).map { j =>
      val p = planeOffset + j
      val proj = aggregate(
        zip_with(q, sequence(lit(0), size(q) - 1),
          (x, i) => x * (((lit(p) * 73 + i * 37) % 19) - 9)),
        lit(0L), (acc, v) => acc + v)
      when(proj > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** v3's 8-bit bucket (one table over planes 0..7) */
  def lshBits(q: Column): Column = lshBucket(q, 0, 8)

  /** v4 multi-table LSH layout: L tables × B sign bits. More tables raise
    * recall, more bits per table shrink candidate sets (each table's bucket
    * holds ~2^-B of the corpus). Measured on the synthetic embeddings
    * (near-random vectors — LSH's worst case; clustered real embeddings
    * fare far better): 4×4 single-probe gave top-3 recall 0.40 at a 19%
    * candidate fraction; with query-directed multi-probe (1 lowest-margin
    * flip per table, r4) recall is 0.53 at 37% candidates — more recall per
    * candidate than the single-probe point, with no extra tables. */
  val lshTables = 4
  val lshBitsPerTable = 4

  val queries: Map[String, Q] = Map(
    "v1_knn_bruteforce" -> ((s, d) => {
      // top-5 cosine neighbors for query vectors (vec_id < 5)
      val e = embeddings(s, d).select(col("vec_id"), qvec(col("embedding")).as("q"))
      val norms = e.select(col("vec_id"), col("q"),
        idot(col("q"), col("q")).as("nrm"))
      val queriesDf = norms.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nrm").as("qn"))
      val joined = norms.crossJoin(broadcast(queriesDf))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine6(col("q"), col("qq"), col("nrm"), col("qn")).as("cosine"))
      topKPerQuery(joined, 5)
    }),

    "v2_norm_stats" -> ((s, d) => {
      // per-label vector statistics (min/max are order-independent).
      // qvec materialized once — an inlined transform() re-evaluates per
      // reference (no CSE across lambda boundaries).
      embeddings(s, d)
        .select(col("label"), qvec(col("embedding")).as("q"))
        .select(col("label"),
          sqrt(idot(col("q"), col("q")).cast("double")).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(min("nrm"), 4).as("min_norm"),
          round(max("nrm"), 4).as("max_norm"))
        .orderBy("label")
    }),

    "v3_lsh_buckets" -> ((s, d) => {
      // LSH bucket histogram — the partitioning stats of the ANN scale path.
      // q materialized once (8 bit-projections reuse it; no CSE across
      // lambda boundaries).
      embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("q"))
        .select(col("vec_id"), element_at(
          graft.functions.LshBuckets.lshBuckets(col("q"), 1, 8), 1)
          .as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    "d9_embed_neardup" -> ((s, d) => {
      // embedding-cosine near-duplicate detection (the dedup-family member
      // over vectors): candidate pairs from the multi-table LSH bucket
      // equijoin (NOT all-pairs), exact integer-cosine verify, top-20 most
      // similar pairs. The pair list feeds DedupClusters for survivor
      // assignment (OperatorsSpec) — same pipeline shape as d5/d7 text
      // near-dup but over the embedding space.
      val e = embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("q"))
        .select(col("vec_id"), col("q"), idot(col("q"), col("q")).as("nrm"),
          graft.functions.LshBuckets.lshBuckets(col("q"),
            lshTables, lshBitsPerTable).as("buckets"))
      // df-cap degenerate buckets (same principle as d5/d7): a sign bucket
      // holding a large corpus fraction carries no near-dup signal but
      // produces O(n²) candidate pairs — measured 616k pairs on 500 vectors
      // uncapped (the skewed-bucket worst case), ~10× fewer capped.
      val tabbed = DocQueries.capByFrequency(
        e.select(col("vec_id"), col("q"), col("nrm"),
          posexplode(col("buckets")))
          .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bkt")),
        Seq("tbl", "bkt"))
      val pairs = tabbed.as("a").join(tabbed.as("b"),
          col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          cosine6(col("a.q"), col("b.q"), col("a.nrm"), col("b.nrm"))
            .as("cosine"))
        .dropDuplicates("vec_a", "vec_b") // union across tables
      pairs.orderBy(desc("cosine"), asc("vec_a"), asc("vec_b")).limit(20)
    }),

    "v5_ivf_knn" -> ((s, d) => {
      // IVF-style ANN (the second scale path next to LSH): a coarse
      // quantizer partitions the corpus into K inverted lists (assignment =
      // nearest centroid), a query probes only its nprobe closest lists,
      // and the survivors re-rank with the exact integer cosine. At 100 TB
      // the inverted lists are a partitioned table and candidate generation
      // is an equijoin on cid — same join shape as v4, different geometry.
      // Centroids here are the K lowest-id vectors (a deterministic stand-in
      // for a k-means codebook, which would train offline; the IVF
      // structure — assign/probe/re-rank — is identical), making every step
      // exact integer arithmetic the oracle re-derives.
      val K = 8
      val nprobe = 2
      val e = embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("q"))
        .select(col("vec_id"), col("q"), idot(col("q"), col("q")).as("nrm"))
      val cents = e.filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("q").as("cq"),
          col("nrm").as("cn"))
      val scored = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("q"), col("nrm"), col("cid"),
          cosine6(col("q"), col("cq"), col("nrm"), col("cn")).as("csim"))
      val byCent = Window.partitionBy("vec_id")
        .orderBy(desc("csim"), asc("cid"))
      val ranked = scored.withColumn("crn", row_number().over(byCent))
      val assign = ranked.filter(col("crn") === 1)
        .select(col("vec_id"), col("q"), col("nrm"), col("cid"))
      val probes = ranked.filter(col("vec_id") < 5 && col("crn") <= nprobe)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nrm").as("qn"), col("cid"))
      val cands = assign.join(probes, Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine6(col("q"), col("qq"), col("nrm"), col("qn")).as("cosine"))
        .dropDuplicates("query_id", "vec_id") // union across probed lists
      topKPerQuery(cands, 3)
    }),

    "v4_lsh_knn" -> ((s, d) => {
      // ANN retrieval end-to-end (the 100 TB shape): candidate generation is
      // a BUCKET EQUIJOIN per LSH table ((tbl, bucket) exploded — one
      // shuffle-join instead of v1's cross product), candidates deduped
      // across tables, exact re-rank with the quantized integer cosine of
      // v1, top-3 per query. QUERY-DIRECTED MULTI-PROBE (Lv et al.,
      // VLDB'07): each query also probes the bucket with its LOWEST-MARGIN
      // sign bit flipped — the |projection| closest to the hyperplane is
      // the bit most likely wrong, so one extra probe per table buys the
      // most recall per candidate. Probing stays query-side only (2 probes
      // × L tables per query): candidate generation remains an equijoin and
      // the corpus index is untouched. Recall measured in OperatorsSpec.
      val e = embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("q"))
        .select(col("vec_id"), col("q"), idot(col("q"), col("q")).as("nrm"),
          graft.functions.LshBuckets.lshBuckets(col("q"),
            lshTables, lshBitsPerTable).as("buckets"))
      val tabbed = e.select(col("vec_id"), col("q"), col("nrm"),
        posexplode(col("buckets")))
        .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bkt"))
      // probe targets come out of the NATIVE expression (one pass over the
      // query vector yields every table's bucket AND its lowest-margin flip
      // together — the r4 Column-algebra margins re-folded the vector per
      // (table, bit), L×B extra element loops re-deriving projections the
      // bucketing pass had already computed). Flattened [bkt,alt]* pairs:
      // pos/2 = table, pos%2 = which probe — a plain posexplode, still an
      // equijoin on (tbl, bucket). The driver oracle reproduces this
      // multi-probe set.
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nrm").as("qn"),
          posexplode(graft.functions.LshBuckets.lshBucketProbes(
            col("q"), lshTables, lshBitsPerTable)))
        .select(col("query_id"), col("qq"), col("qn"),
          (col("pos") / 2).cast("int").as("qtbl"), col("col").as("pbkt"))
      val cands = tabbed.join(probes,
          col("tbl") === col("qtbl") && col("bkt") === col("pbkt") &&
            col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine6(col("q"), col("qq"), col("nrm"), col("qn")).as("cosine"))
        .dropDuplicates("query_id", "vec_id") // union across tables+probes
      topKPerQuery(cands, 3)
    })
  )

  val oracles: Map[String, String] = Map(
    "v1_knn_bruteforce" ->
      """WITH q AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
           FROM embeddings),
         n AS (
           SELECT vec_id, qv,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(qv, x -> x * x)), (a, b) -> a + b) AS nrm
           FROM q),
         qs AS (SELECT vec_id AS query_id, qv AS qq, nrm AS qn
                FROM n WHERE vec_id < 5),
         sim AS (
           SELECT qs.query_id, n.vec_id,
                  round(
                    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, 65),
                        i -> n.qv[CAST(i AS INT)] * qs.qq[CAST(i AS INT)])),
                      (a, b) -> a + b) AS DOUBLE)
                    / sqrt(CAST(n.nrm AS DOUBLE) * CAST(qs.qn AS DOUBLE)),
                    6) AS cosine
           FROM n CROSS JOIN qs WHERE n.vec_id <> qs.query_id),
         ranked AS (
           SELECT query_id, vec_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, vec_id ASC) AS rnk
           FROM sim)
         SELECT query_id, rnk, vec_id AS neighbor_id, cosine
         FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""",
    "v2_norm_stats" ->
      """WITH q AS (
           SELECT label,
                  sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)
                           * CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))),
                    (a, b) -> a + b) AS DOUBLE)) AS nrm
           FROM embeddings)
         SELECT label, count(*) AS n, round(min(nrm), 4) AS min_norm,
                round(max(nrm), 4) AS max_norm
         FROM q GROUP BY label ORDER BY label""",
    // the LSH planes are fixed integer arithmetic, so the bucket assignment
    // is reproduced exactly in SQL (DuckDB lambda index i is 1-based)
    "v3_lsh_buckets" ->
      s"""WITH q AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
           FROM embeddings),
         b AS (SELECT vec_id, ${bucketSql("qv", 0, 8)} AS bucket FROM q)
         SELECT bucket, count(*) AS n FROM b
         GROUP BY bucket ORDER BY bucket""",
    "d9_embed_neardup" ->
      s"""WITH q AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
           FROM embeddings),
         e AS (
           SELECT vec_id, qv,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(qv, x -> x * x)), (a, b) -> a + b) AS nrm
           FROM q),
         tb0 AS (${(0 until lshTables).map(t =>
        s"""SELECT vec_id, $t AS tbl,
              ${bucketSql("qv", t * lshBitsPerTable, lshBitsPerTable)} AS bkt
            FROM q""").mkString("\n           UNION ALL\n           ")}),
         tb AS (
           SELECT vec_id, tbl, bkt FROM (
             SELECT vec_id, tbl, bkt,
                    count(*) OVER (PARTITION BY tbl, bkt) AS df
             FROM tb0) WHERE df <= ${DocQueries.maxDf}),
         cand AS (
           SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           FROM tb a JOIN tb b
             ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
         sim AS (
           SELECT c.vec_a, c.vec_b,
                  round(
                    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, 65),
                        i -> ea.qv[CAST(i AS INT)] * eb.qv[CAST(i AS INT)])),
                      (a, b) -> a + b) AS DOUBLE)
                    / sqrt(CAST(ea.nrm AS DOUBLE) * CAST(eb.nrm AS DOUBLE)),
                    6) AS cosine
           FROM cand c
           JOIN e ea ON ea.vec_id = c.vec_a
           JOIN e eb ON eb.vec_id = c.vec_b)
         SELECT vec_a, vec_b, cosine FROM sim
         ORDER BY cosine DESC, vec_a ASC, vec_b ASC LIMIT 20""",
    "v5_ivf_knn" ->
      """WITH q AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
           FROM embeddings),
         e AS (
           SELECT vec_id, qv,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(qv, x -> x * x)), (a, b) -> a + b) AS nrm
           FROM q),
         cents AS (SELECT vec_id AS cid, qv AS cq, nrm AS cn
                   FROM e WHERE vec_id < 8),
         scored AS (
           SELECT e.vec_id, e.qv, e.nrm, c.cid,
                  round(
                    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, 65),
                        i -> e.qv[CAST(i AS INT)] * c.cq[CAST(i AS INT)])),
                      (a, b) -> a + b) AS DOUBLE)
                    / sqrt(CAST(e.nrm AS DOUBLE) * CAST(c.cn AS DOUBLE)),
                    6) AS csim
           FROM e CROSS JOIN cents c),
         ranked AS (
           SELECT vec_id, qv, nrm, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY csim DESC, cid ASC) AS crn
           FROM scored),
         assign AS (SELECT vec_id, qv, nrm, cid FROM ranked WHERE crn = 1),
         probes AS (
           SELECT vec_id AS query_id, qv AS qq, nrm AS qn, cid
           FROM ranked WHERE vec_id < 5 AND crn <= 2),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM assign a JOIN probes p ON a.cid = p.cid
           WHERE a.vec_id <> p.query_id),
         sim AS (
           SELECT c.query_id, c.vec_id,
                  round(
                    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, 65),
                        i -> ev.qv[CAST(i AS INT)] * eq.qv[CAST(i AS INT)])),
                      (a, b) -> a + b) AS DOUBLE)
                    / sqrt(CAST(ev.nrm AS DOUBLE) * CAST(eq.nrm AS DOUBLE)),
                    6) AS cosine
           FROM cand c
           JOIN e ev ON ev.vec_id = c.vec_id
           JOIN e eq ON eq.vec_id = c.query_id),
         rk AS (
           SELECT query_id, vec_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, vec_id ASC) AS rnk
           FROM sim)
         SELECT query_id, rnk, vec_id AS neighbor_id, cosine
         FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""",
    "v4_lsh_knn" ->
      s"""WITH q AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
           FROM embeddings),
         e AS (
           SELECT vec_id, qv,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(qv, x -> x * x)), (a, b) -> a + b) AS nrm
           FROM q),
         tb AS (${(0 until lshTables).map(t =>
        s"""SELECT vec_id, $t AS tbl,
              ${bucketSql("qv", t * lshBitsPerTable, lshBitsPerTable)} AS bkt
            FROM q""").mkString("\n           UNION ALL\n           ")}),
         qt AS (${(0 until lshTables).map(t =>
        s"""SELECT vec_id, $t AS tbl,
              ${bucketSql("qv", t * lshBitsPerTable, lshBitsPerTable)} AS bkt,
              ${(0 until lshBitsPerTable).map(j =>
          s"abs(${projSql("qv", t * lshBitsPerTable + j)}) AS a$j")
          .mkString(",\n              ")}
            FROM q WHERE vec_id < 5""")
        .mkString("\n           UNION ALL\n           ")}),
         probes AS (
           SELECT vec_id, tbl, bkt FROM qt
           UNION ALL
           SELECT vec_id, tbl,
                  xor(bkt, CASE ${(0 until lshBitsPerTable - 1).map(j =>
        s"WHEN least(${(0 until lshBitsPerTable).map("a" + _).mkString(", ")}) " +
          s"= a$j THEN ${1 << j}").mkString(" ")}
                           ELSE ${1 << (lshBitsPerTable - 1)} END) AS bkt
           FROM qt),
         cand AS (
           SELECT DISTINCT p.vec_id AS query_id, tb.vec_id
           FROM tb JOIN probes p ON tb.tbl = p.tbl AND tb.bkt = p.bkt
           WHERE tb.vec_id <> p.vec_id),
         sim AS (
           SELECT c.query_id, c.vec_id,
                  round(
                    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, 65),
                        i -> ev.qv[CAST(i AS INT)] * eq.qv[CAST(i AS INT)])),
                      (a, b) -> a + b) AS DOUBLE)
                    / sqrt(CAST(ev.nrm AS DOUBLE) * CAST(eq.nrm AS DOUBLE)),
                    6) AS cosine
           FROM cand c
           JOIN e ev ON ev.vec_id = c.vec_id
           JOIN e eq ON eq.vec_id = c.query_id),
         ranked AS (
           SELECT query_id, vec_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, vec_id ASC) AS rnk
           FROM sim)
         SELECT query_id, rnk, vec_id AS neighbor_id, cosine
         FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk"""
  )

  /** DuckDB expression for the raw integer projection of quantized vector
    * column `v` onto fixed plane `p` — the margin source for multi-probe
    * (DuckDB lambda index i is 1-based). */
  private def projSql(v: String, p: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform($v,
           (x, i) -> x * ((($p * 73 + (i - 1) * 37) % 19) - 9))),
         (a, b) -> a + b)"""

  /** DuckDB expression for an `nBits`-bit LSH sign bucket of quantized
    * vector column `v`, planes starting at `planeOffset` — mirrors
    * [[lshBucket]] exactly. */
  private def bucketSql(v: String, planeOffset: Int, nBits: Int): String =
    (0 until nBits).map { j =>
      s"""(CASE WHEN ${projSql(v, planeOffset + j)} > 0
           THEN ${1 << j} ELSE 0 END)"""
    }.mkString("(", " + ", ")")
}
