package graft.table

import graft.model.DataFileEntry
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning => ConnectorKeyGroupedPartitioning, Partitioning => ConnectorPartitioning}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * DataSource V2 scan over an IceTable's manifest-listed files reporting
 * `KeyGroupedPartitioning(bucket)` — the storage-partitioned-join contract
 * the reference relies on from Iceberg (the table-format scan behind
 * gobblin-iceberg/.../writer/IcebergMetadataWriter.java:834-905): the CoW
 * MERGE's target side is read IN PLACE, one input partition per bucket, and
 * Catalyst's storage-partitioned-join machinery recognises the layout, so
 * the join needs NO exchange on this side regardless of bucket count.
 *
 * This replaces the round-2 LogicalRDD claimed-partitioning construction,
 * which built one sub-plan + `coalesce(1)` RDD per occupied bucket: correct,
 * but O(numBuckets) driver plan nodes and a forced single task per bucket —
 * the production path at thousands of buckets is exactly this scan.
 *
 *  - One [[BucketInputPartition]] per participating bucket, carrying that
 *    bucket's manifest file subset (possibly several files, possibly none).
 *    `HasPartitionKey` exposes the bucket value, so Spark groups partitions
 *    into `KeyGroupedPartitioning` with one partition per bucket value.
 *  - Driver plan size is flat in bucket count: ONE BatchScan node; the file
 *    lists ride the serialized input partitions.
 *  - Reads are columnar: each file is decoded by Spark's own vectorized
 *    parquet reader (the V2 source's `ParquetPartitionReaderFactory`,
 *    `buildColumnarReader`), so predicate/dictionary handling match the
 *    stock parquet source, and Spark turns the batches into rows once, in
 *    its `ColumnarToRow`. Row readers (the lookup, the change feed, the SQL
 *    catalog's user view) iterate the same batches' row views.
 *  - Files written under older schema vintages are evolved by column id
 *    (rename/widen/null-fill — SchemaRegistry) in each vintage's READ
 *    SCHEMA: the target columns at the target types under the names that
 *    vintage wrote, a column it lacks under a name no file holds (read as
 *    nulls), widening left to the reader. Every vintage's batches thus come
 *    out in ONE scan layout, and no row is copied. The read conf is
 *    broadcast once per read schema and session conf
 *    (`GraftSqlBridge.parquetReaderFactory`), not once per scan; the
 *    pushed filters are set per scan.
 *  - It reports its rows' order (`SupportsReportOrdering`):
 *    `(bucket, repo, path)` ascending, trimmed to the columns it outputs,
 *    when every bucket is read from at most one file and every file's
 *    entry says it was written key-sorted (`DataFileEntry.sortedByKey`). A
 *    sort-merge join on those keys (the merge target, the version diff)
 *    then sorts nothing on this side; otherwise the scan reports no order
 *    and Spark sorts as usual.
 *  - It is the engine's ONE reader of manifest files: `IceTable.readFiles`
 *    (packed), the merge target, the version diff, the point lookup, the
 *    change feed and the SQL catalog all scan through it, so the column-id
 *    rule is written once. Its [[Builder]] takes column pruning and
 *    filter pushdown.
 *
 * Catalyst exposes the reported partitioning, and joins it without an
 * exchange, under [[SessionScope.CoPartitionConfs]] at planning time: the
 * merge and the version diff (`IceTable.changesBetween`) scope them around
 * their own planning.
 */
object BucketScan {

  /** files of ONE bucket (possibly empty — an empty partition keeps the
    * partition-value universe aligned with the other join side). */
  final case class FileSpec(path: String, length: Long, schemaId: Int)

  final case class BucketInputPartition(bucket: Int, files: Seq[FileSpec])
      extends InputPartition with HasPartitionKey {
    override def partitionKey(): InternalRow =
      new GenericInternalRow(Array[Any](bucket))
  }

  /** the physical columns, in canonical order: `bucket` is the partition
    * value the reader appends (never decoded, so never pruned), `lastSeq`
    * and `deleted` are stored in every file */
  private val physical: Seq[StructField] = Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("lastSeq", LongType, nullable = true),
    StructField("deleted", BooleanType, nullable = true))

  /** the order the engine writes each file's rows in (`sortedByKey`) */
  private val KeyOrder: Seq[String] = Seq("bucket", "repo", "path")

  /** One vintage's parquet read schema: the `target` columns in target
    * order and at the target type, each named as `vintage` wrote it (matched
    * by colId), then the stored physical columns of `phys`. A column the
    * vintage lacks gets [[absentName]], which no file holds, so the reader
    * fills it with nulls. Widening is the reader's own: it reads a file's
    * `int` column as `long` or `double` (`long` -> `double` it refuses, and
    * so does `SchemaRegistry.validateEvolution`). */
  private def vintageReadSchema(vintage: SchemaDef, target: SchemaDef,
      phys: Seq[StructField]): StructType = {
    val old = vintage.byColId
    StructType(target.columns.map(tc => StructField(
      old.get(tc.colId).fold(absentName(tc.colId))(_.name),
      sparkType(tc.dataType), nullable = true)) ++ stored(phys))
  }

  /** the read-schema name of a column a vintage lacks: registry names are
    * identifiers, so no engine-written file holds it */
  private def absentName(colId: Int): String = s"__graft_absent_col$colId"

  private def stored(phys: Seq[StructField]): Seq[StructField] =
    phys.filterNot(_.name == "bucket")

  private def sparkType(t: String): DataType = SchemaRegistry.sparkType(t)

  /** Rewrite pushdown filters from TARGET column names to one vintage's
    * WRITTEN names (colId-matched). A leaf referencing a column the vintage
    * lacks (added later) or stores at a different type (widened since),
    * or naming `bucket` (a partition value, not stored), cannot be pushed
    * for that vintage and is DROPPED — always safe under
    * And (weakens to a superset) and handled both-or-none under Or; Not is
    * never pushed (dropping inside a negation would strengthen it). The
    * scan contract stays: pushed filters are IO hints, the engine/Spark
    * re-evaluates them on returned rows. */
  private[table] def translateFilters(fs: Seq[Filter], target: SchemaDef,
      vintage: SchemaDef): Seq[Filter] = {
    import org.apache.spark.sql.sources._
    val old = vintage.byColId
    val mapped: Map[String, String] = target.columns.flatMap { tc =>
      old.get(tc.colId).collect {
        case oc if oc.dataType == tc.dataType => tc.name -> oc.name
      }
    }.toMap ++ stored(physical).map(f => f.name -> f.name)
    def tr(f: Filter): Option[Filter] = f match {
      case And(l, r) => (tr(l), tr(r)) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (a, b) => a.orElse(b) // a surviving conjunct alone is still sound
      }
      case Or(l, r) => for { a <- tr(l); b <- tr(r) } yield Or(a, b)
      case EqualTo(a, v) => mapped.get(a).map(EqualTo(_, v))
      case EqualNullSafe(a, v) => mapped.get(a).map(EqualNullSafe(_, v))
      case GreaterThan(a, v) => mapped.get(a).map(GreaterThan(_, v))
      case GreaterThanOrEqual(a, v) =>
        mapped.get(a).map(GreaterThanOrEqual(_, v))
      case LessThan(a, v) => mapped.get(a).map(LessThan(_, v))
      case LessThanOrEqual(a, v) => mapped.get(a).map(LessThanOrEqual(_, v))
      case In(a, vs) => mapped.get(a).map(In(_, vs))
      case IsNull(a) => mapped.get(a).map(IsNull(_))
      case IsNotNull(a) => mapped.get(a).map(IsNotNull(_))
      case StringStartsWith(a, v) => mapped.get(a).map(StringStartsWith(_, v))
      case _ => None // Not / unknown leaves: never pushed
    }
    fs.flatMap(tr)
  }

  /** `target` cols then the physical cols `phys`: a scan's output */
  private def layout(target: SchemaDef, phys: Seq[StructField]): StructType =
    StructType(target.columns.map(c =>
      StructField(c.name, sparkType(c.dataType), nullable = true)) ++ phys)

  /** canonical (unpruned) scan output: target cols then physical cols */
  def canonicalSchema(targetSchemaId: Int): StructType =
    layout(SchemaRegistry.schemaFor(targetSchemaId), physical)

  /** the user view's columns: the canonical output without the physical
    * cols */
  def userSchema(targetSchemaId: Int): StructType =
    layout(SchemaRegistry.schemaFor(targetSchemaId), Nil)

  /** Reads a bucket's files as column batches in the scan layout. Each
    * file's reader (Spark's vectorized parquet reader, at the file's
    * vintage read schema) returns `[target cols..., stored cols..., bucket]`;
    * the scan layout puts `bucket` before the stored cols, so a batch is the
    * reader's own vectors in `order`, with nothing copied. Rows are the
    * batches' row views: a row is valid until the next `next()`. */
  private final class BucketReaderFactory(
      readers: Map[Int, ParquetPartitionReaderFactory], order: Array[Int])
      extends PartitionReaderFactory {
    override def supportColumnarReads(p: InputPartition): Boolean = true

    override def createColumnarReader(
        p: InputPartition): PartitionReader[ColumnarBatch] = {
      val bp = p.asInstanceOf[BucketInputPartition]
      new PartitionReader[ColumnarBatch] {
        private val files = bp.files.iterator
        private var reader: PartitionReader[ColumnarBatch] = _
        // the reader reuses one batch (and its vectors) per file
        private var readerBatch: ColumnarBatch = _
        private var cur: ColumnarBatch = _
        override def next(): Boolean = {
          while (reader == null || !reader.next()) {
            close()
            if (!files.hasNext) return false
            val f = files.next()
            reader = readers(f.schemaId).buildColumnarReader(
              GraftSqlBridge.makePartitionedFile(
                new GenericInternalRow(Array[Any](bp.bucket)), f.path,
                f.length))
          }
          val b = reader.get()
          if (b ne readerBatch) {
            readerBatch = b
            cur = new ColumnarBatch(order.map(b.column), b.numRows())
          } else cur.setNumRows(b.numRows())
          true
        }
        override def get(): ColumnarBatch = cur
        override def close(): Unit =
          if (reader != null) { reader.close(); reader = null }
      }
    }

    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val batches = createColumnarReader(p)
      new PartitionReader[InternalRow] {
        private var rows: java.util.Iterator[InternalRow] =
          java.util.Collections.emptyIterator()
        private var cur: InternalRow = _
        override def next(): Boolean = {
          while (!rows.hasNext) {
            if (!batches.next()) return false
            rows = batches.get().rowIterator()
          }
          cur = rows.next()
          true
        }
        override def get(): InternalRow = cur
        override def close(): Unit = batches.close()
      }
    }
  }

  /** A planned scan: its output schema, input partitions and readers.
    * `sortedBy` names the leading output columns every partition's rows are
    * ascending in (empty: no order is known). */
  final case class ScanParts(schema: StructType, parts: Array[InputPartition],
      factory: PartitionReaderFactory, sortedBy: Seq[String])

  private final class GraftBucketScan(sp: ScanParts, pushed: Seq[Filter])
      extends Scan with Batch with SupportsReportPartitioning
      with SupportsReportOrdering {
    override def readSchema(): StructType = sp.schema
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = sp.parts
    override def createReaderFactory(): PartitionReaderFactory = sp.factory
    override def outputPartitioning(): ConnectorPartitioning =
      new ConnectorKeyGroupedPartitioning(
        Array(Expressions.identity("bucket")), sp.parts.length)
    override def outputOrdering(): Array[SortOrder] =
      sp.sortedBy.map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
    override def description(): String = {
      val nFiles = sp.parts.collect {
        case p: BucketInputPartition => p.files.size
      }.sum
      s"graft-bucket-scan[${sp.parts.length} buckets, $nFiles files, " +
        s"cols=${sp.schema.fieldNames.mkString(",")}" +
        (if (sp.sortedBy.nonEmpty) s", sorted=${sp.sortedBy.mkString(",")}"
         else "") +
        (if (pushed.nonEmpty) s", pushed=${pushed.mkString(",")}" else "") +
        "]"
    }
  }

  /** The one scan builder over manifest files: column pruning and filter
    * pushdown, then [[scanParts]] at `build`. Parquet skipping is
    * BEST-EFFORT (row groups / pages): every filter is handed to the
    * readers as an IO hint AND returned to Spark as a post-scan filter, so
    * correctness never depends on the push (the stock parquet V2 source's
    * contract). One input partition per bucket in `buckets` (buckets
    * without files get an empty partition). The SQL catalog wraps the same
    * builder (GraftSqlTable). */
  final class Builder(spark: SparkSession,
      files: Seq[DataFileEntry], buckets: Seq[Int], targetSchemaId: Int)
      extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters {
    private var required: Option[Seq[String]] = None
    private var pushed: Array[Filter] = Array.empty

    override def pruneColumns(requiredSchema: StructType): Unit =
      required = Some(requiredSchema.fieldNames.toSeq)
    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      pushed = filters
      filters
    }
    override def pushedFilters(): Array[Filter] = pushed
    override def build(): Scan = new GraftBucketScan(scanParts(spark, files,
      buckets, targetSchemaId, required, pushed.toSeq), pushed.toSeq)
  }

  /** the buckets `files` occupy, ascending; bucket 0 alone when there are
    * none (an empty scan still plans one, empty, partition) */
  def occupiedBuckets(files: Seq[DataFileEntry]): Seq[Int] =
    files.map(_.bucket).distinct.sorted match {
      case Seq() => Seq(0)
      case bs => bs
    }

  private final class GraftBucketTable(spark: SparkSession,
      files: Seq[DataFileEntry], buckets: Seq[Int], targetSchemaId: Int)
      extends Table with SupportsRead {
    override def name(): String = "graft_bucket_aligned"
    override def schema(): StructType = canonicalSchema(targetSchemaId)
    override def partitioning(): Array[Transform] =
      Array(Expressions.identity("bucket"))
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
      new Builder(spark, files, buckets, targetSchemaId)
  }

  /**
   * Bucket-aligned DataFrame over `files`, one input partition per bucket in
   * `buckets` (ascending; buckets without files get an empty partition so
   * the partition-value universe matches the other join side exactly).
   */
  def read(spark: SparkSession, files: Seq[DataFileEntry],
           buckets: Seq[Int], targetSchemaId: Int): DataFrame =
    GraftSqlBridge.dataFrameFromV2Table(spark,
      new GraftBucketTable(spark, files, buckets, targetSchemaId))

  /** The planned scan behind [[Builder]] — also read directly by the point
    * lookup and the change feed. Rows come out in the layout
    * `[target cols..., bucket, lastSeq, deleted]`, and in key order
    * (`sortedBy`) when each bucket has at most one file, flagged
    * `sortedByKey`.
    *
    * `requiredCols` prunes that layout to the named columns (order kept;
    * `bucket` always stays) AND the per-vintage parquet read schemas
    * (matched by colId) — a 2-column projection decodes 2 columns, not the
    * table. `pushedFilters` (in target column names) are translated per
    * vintage (rename-aware via colId; dropped where the vintage lacks the
    * column or widened its type) and pushed into the parquet readers for
    * row-group / page skipping — best-effort IO pruning only, callers
    * still evaluate the predicates. Each vintage's reader comes from
    * `GraftSqlBridge.parquetReaderFactory`: its broadcast read conf is
    * shared by every scan of that file layout under the same session conf,
    * and only the filters are this call's. */
  def scanParts(spark: SparkSession, files: Seq[DataFileEntry],
                buckets: Seq[Int], targetSchemaId: Int,
                requiredCols: Option[Seq[String]] = None,
                pushedFilters: Seq[Filter] = Nil): ScanParts = {
    require(buckets.nonEmpty, "bucket-aligned scan needs at least one bucket")
    val sortedBuckets = buckets.distinct.sorted
    val byBucket = files.groupBy(_.bucket)
    require(byBucket.keySet.subsetOf(sortedBuckets.toSet),
      s"files outside the declared bucket set: " +
        s"${byBucket.keySet -- sortedBuckets.toSet}")
    val keep: String => Boolean =
      requiredCols.fold((_: String) => true)(_.toSet)
    val fullTarget = SchemaRegistry.schemaFor(targetSchemaId)
    val target =
      SchemaDef(fullTarget.id, fullTarget.columns.filter(c => keep(c.name)))
    val phys = physical.filter(f => f.name == "bucket" || keep(f.name))
    val readers = files.map(_.schemaId).distinct.map { sid =>
      val vintage = SchemaRegistry.schemaFor(sid)
      sid -> GraftSqlBridge.parquetReaderFactory(spark,
        vintageReadSchema(vintage, target, phys),
        StructType(physical.take(1)),
        translateFilters(pushedFilters, fullTarget, vintage))
    }.toMap
    // reader batch: [target..., stored..., bucket]; scan layout puts bucket
    // first among the physical cols
    val nTarget = target.columns.size
    val nStored = stored(phys).size
    val order = ((0 until nTarget) ++ Seq(nTarget + nStored) ++
      (nTarget until nTarget + nStored)).toArray
    // resolve unknown lengths (legacy manifests record bytes = -1) — a
    // PartitionedFile's length bounds the read, so 0 would read nothing
    lazy val hconf = spark.sessionState.newHadoopConf()
    def len(f: DataFileEntry): Long =
      if (f.bytes >= 0) f.bytes
      else {
        val p = new org.apache.hadoop.fs.Path(f.path)
        p.getFileSystem(hconf).getFileStatus(p).getLen
      }
    val parts: Array[InputPartition] = sortedBuckets.map { b =>
      BucketInputPartition(b, byBucket.getOrElse(b, Nil)
        .sortBy(_.path)
        .map(f => FileSpec(f.path, len(f), f.schemaId)))
        : InputPartition
    }.toArray
    // every file the engine writes is sorted by (repo, path) and says so;
    // a bucket's rows keep that order only while it is read from one file
    val schema = layout(target, phys)
    val sortedBy =
      if (byBucket.values.forall(_.size <= 1) && files.forall(_.sortedByKey))
        KeyOrder.takeWhile(schema.fieldNames.contains)
      else Nil
    ScanParts(schema, parts, new BucketReaderFactory(readers, order),
      sortedBy)
  }
}
