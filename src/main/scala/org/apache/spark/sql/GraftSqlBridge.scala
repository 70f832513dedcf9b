package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Bridge into `private[sql]` Spark internals — the standard technique Spark
  * extension libraries use on Spark 4's split API. The escapes:
  *   - Column↔Expression conversion (custom Catalyst expressions as Columns)
  *   - building a DataFrame over an RDD[InternalRow] WITH a declared output
  *     partitioning (`LogicalRDD`, the same internal Dataset.checkpoint
  *     uses) — lets a side whose physical layout already satisfies a
  *     distribution report it to Catalyst so downstream joins skip the
  *     Exchange entirely (the key-grouped winner layout of the merge), or
  *     that keeps a plan forced under scoped confs (the version diff)
  *   - DSv2 plumbing for the bucket scan: Spark's own parquet row reader
  *     (its read conf broadcast once per layout and conf), PartitionedFile
  *     construction, and DataFrame-over-Table wiring
  *   - a DataFrame over driver-held rows (`LocalRelation`), for the point
  *     lookup's job-free answer */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over `rdd` claiming `partitioning(outputAttrs)`. The claim
    * MUST be physically true (caller lays out partitions accordingly);
    * Catalyst then treats the scan as pre-partitioned. */
  def dataFrameWithPartitioning(
      spark: SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType,
      partitioning: Seq[Attribute] => Partitioning): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val attrs = DataTypeUtils.toAttributes(schema)
    classic.Dataset.ofRows(cs,
      execution.LogicalRDD(attrs, rdd, partitioning(attrs))(cs))
  }

  /** DataFrame over rows already held on the driver (`LocalRelation`, the
    * plan `Seq.toDF` builds): filters and projections over it fold into a
    * new local relation, so `collect()` runs no Spark job. `rows` must be
    * in `schema`'s layout and owned by the caller (copies, not a reader's
    * reused buffer). */
  def localDataFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(cs, catalyst.plans.logical.LocalRelation(
      DataTypeUtils.toAttributes(schema), rows))
  }

  /** Non-blocking Observation read: Some(metrics) if an action already
    * completed on the observed plan, None otherwise (`getOrEmpty` is
    * private[spark]) — lets callers fall back instead of hanging on
    * `Observation.get` when no action ran. */
  def observationResult(o: Observation): Option[Map[String, Any]] =
    // getOrEmpty NPEs (not empty-maps) when no action fired the observation
    scala.util.Try(o.getOrEmpty).toOption.filter(_.nonEmpty)

  /** Block (bounded) until the shared listener bus has delivered every
    * queued event; true if it drained. Observation metrics ride this bus,
    * so after a successful drain "observation still empty" deterministically
    * means "no action ran on the observed plan" — callers can fall back
    * immediately instead of sleep-polling a fixed budget. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Boolean =
    try {
      spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
      true
    } catch { case _: java.util.concurrent.TimeoutException => false }

  /** BOUNDED Observation read: the metrics after the observed plan's action
    * ran. NEVER blocks unbounded (an overloaded listener bus can DROP the
    * completion event, in which case `Observation.get` hangs forever) and
    * NEVER silently defaults (a missing counter must fail the caller's
    * commit, not under-report it): up to 3 bus drains, then a loud error.
    * Every engine counter read goes through here. */
  def awaitObservation(spark: SparkSession, o: Observation,
                       what: String): Map[String, Any] = {
    var result: Option[Map[String, Any]] = None
    var attempts = 0
    while (result.isEmpty && attempts < 3) {
      drainListenerBus(spark, 10000L)
      result = observationResult(o)
      attempts += 1
    }
    result.getOrElse(throw new IllegalStateException(
      s"$what observation never arrived after 3 listener-bus drains " +
        "(~30s) — failing loudly instead of blocking forever or " +
        "defaulting counters (nothing was committed; retry)"))
  }


  // ---- DSv2 storage-partitioned-scan support ------------------------------

  /** Spark's own parquet row reader for files of one layout: the V2
    * source's `ParquetPartitionReaderFactory`, whose `buildReader` reads
    * `dataSchema` columns of a file and appends `partitionSchema` values
    * carried on the PartitionedFile, one row at a time (no ColumnarBatch
    * leaks out). The factory is executor-serializable: it carries a
    * broadcast of the prepared read conf. `filters` (in terms of the
    * file's column names) drive row-group / dictionary / page skipping
    * inside the parquet reader. Purely an IO optimization: parquet skipping
    * is best-effort, so callers must still evaluate the predicates on the
    * returned rows (Spark's V2 pushdown contract when `pushFilters` returns
    * the filters back as post-scan filters).
    *
    * The read conf is prepared and broadcast once per (layout, partition
    * schema, contents of `newHadoopConf()`, SparkContext), not per call: a
    * broadcast of the session's ~1,100-entry Hadoop conf cost ~8 ms, most
    * of a point lookup. Each call copies the memoized factory with its own
    * `filters` and the calling session's SQL conf, so a conf change reaches
    * the next read through a new entry and the copied SQL conf. */
  def parquetReaderFactory(
      spark: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      filters: Seq[sources.Filter])
      : execution.datasources.v2.parquet.ParquetPartitionReaderFactory = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val sqlConf = cs.sessionState.conf
    val hadoopConf = cs.sessionState.newHadoopConf()
    // the one read setting whose default is not fixed (the JVM's zone)
    hadoopConf.set(internal.SQLConf.SESSION_LOCAL_TIMEZONE.key,
      sqlConf.sessionLocalTimeZone)
    val key = ReadConfs.Key(dataSchema, partitionSchema,
      hadoopConf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
    ReadConfs.getOrBuild(cs.sparkContext, key) {
      execution.datasources.v2.parquet.ParquetScan(
        sparkSession = cs,
        hadoopConf = hadoopConf,
        fileIndex = new execution.datasources.InMemoryFileIndex(
          cs, Nil, Map.empty, None),
        dataSchema = dataSchema,
        readDataSchema = dataSchema,
        readPartitionSchema = partitionSchema,
        pushedFilters = Array.empty,
        options = util.CaseInsensitiveStringMap.empty())
        .createReaderFactory()
        .asInstanceOf[
          execution.datasources.v2.parquet.ParquetPartitionReaderFactory]
    }.copy(sqlConf = sqlConf, filters = filters.toArray,
      options = new execution.datasources.parquet.ParquetOptions(
        Map.empty[String, String], sqlConf))
  }

  /** The memoized read factories (each holding its broadcast read conf),
    * a small LRU per SparkContext. An evicted entry's broadcast is never
    * destroyed here: a scan still running may hold it, and Spark's
    * `ContextCleaner` removes it once no factory references it. */
  private object ReadConfs {
    /** the conf's entries as a map: an exact, order-independent key */
    final case class Key(dataSchema: StructType, partitionSchema: StructType,
        conf: Map[String, String])
    private val Capacity = 16
    private type Factory =
      execution.datasources.v2.parquet.ParquetPartitionReaderFactory
    private final class Lru
        extends java.util.LinkedHashMap[Key, Factory](Capacity, 0.75f, true) {
      var broadcasts = 0L
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, Factory]): Boolean =
        this.size > Capacity
    }
    private val byContext =
      new java.util.WeakHashMap[org.apache.spark.SparkContext, Lru]()

    def getOrBuild(sc: org.apache.spark.SparkContext, key: Key)(
        build: => Factory): Factory = synchronized {
      val lru = byContext.computeIfAbsent(sc, _ => new Lru)
      Option(lru.get(key)).getOrElse {
        val f = build
        lru.broadcasts += 1
        lru.put(key, f)
        f
      }
    }

    def broadcasts(sc: org.apache.spark.SparkContext): Long = synchronized {
      Option(byContext.get(sc)).fold(0L)(_.broadcasts)
    }
  }

  /** How many read confs [[parquetReaderFactory]] has broadcast for
    * `spark`'s SparkContext: one per memo miss. */
  def readConfBroadcasts(spark: SparkSession): Long =
    ReadConfs.broadcasts(spark.sparkContext)

  def makePartitionedFile(partitionValues: InternalRow, path: String,
      length: Long): execution.datasources.PartitionedFile =
    execution.datasources.PartitionedFile(
      partitionValues = partitionValues,
      filePath = org.apache.spark.paths.SparkPath.fromPathString(path),
      start = 0L,
      length = length,
      locations = Array.empty,
      modificationTime = 0L,
      fileSize = length)

  /** DataFrame over a programmatic DSv2 Table (no catalog registration). */
  def dataFrameFromV2Table(spark: SparkSession,
      table: connector.catalog.Table): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(cs,
      execution.datasources.v2.DataSourceV2Relation.create(table, None, None))
  }

  /** Shuffle `df` into the EXACT KeyGroupedPartitioning layout a DSv2 scan
    * reporting `KeyGroupedPartitioning(bucketCol)` over `bucketValues`
    * exposes: one partition per bucket value, ascending. The result CLAIMS
    * that partitioning, so a join between it and such a scan is recognised
    * as storage-co-partitioned and needs no further exchange on either side
    * (Catalyst could insert the shuffle itself under
    * `spark.sql.sources.v2.bucketing.shuffle.enabled`, but only directly
    * below the join — doing it here lets a window/dedup ride the same
    * single shuffle first). Rows whose bucket is not in `bucketValues` are
    * a caller bug and fail the task (keyed partitioner lookup). */
  def dataFrameWithKeyGroupedPartitioning(
      spark: SparkSession,
      df: DataFrame,
      bucketCol: String,
      bucketValues: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{KeyGroupedPartitioning => PhysKGP}
    val values = bucketValues.distinct.sorted
    val posOf = values.zipWithIndex.toMap
    val idx = df.schema.fieldIndex(bucketCol)
    val n = values.size
    val partitioner = new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = posOf(key.asInstanceOf[Int])
    }
    val laid = df.queryExecution.toRdd
      .mapPartitions(_.map(r => (r.getInt(idx), r.copy())))
      .partitionBy(partitioner)
      .map(_._2)
    val schema = df.schema
    val rows: Seq[InternalRow] = values.map(v =>
      new catalyst.expressions.GenericInternalRow(Array[Any](v)): InternalRow)
    dataFrameWithPartitioning(spark, laid, schema,
      attrs => PhysKGP(Seq(attrs(idx)), n, rows, rows))
  }
}
