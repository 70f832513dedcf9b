package graft.table

import java.util

import graft.model.EpochManifest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Spark DataSource-V2 catalog plugin over the durable [[GraftCatalog]] —
 * plain SQL discovery of published tables from ANY session, no path handed
 * around and no code on the query side:
 *
 * {{{
 *   spark.conf.set("spark.sql.catalog.graft", "graft.table.GraftSparkCatalog")
 *   spark.conf.set("spark.sql.catalog.graft.dir", "/shared/graft-catalog")
 *   spark.sql("SHOW TABLES IN graft")
 *   spark.sql("SELECT * FROM graft.commits")
 *   spark.sql("SELECT * FROM graft.commits VERSION AS OF 3")
 *   spark.sql("SELECT * FROM graft.commits TIMESTAMP AS OF '2026-08-17 10:00:00'")
 * }}}
 *
 * This is the full metastore-registration analog of the reference
 * (gobblin-core/.../publisher/HiveRegistrationPublisher.java:71; module
 * gobblin-hive-registration/): the publisher registers location + params,
 * other engines query by name. Table STATE stays entirely in the table's
 * own snapshot CAS — `loadTable` resolves the CURRENT manifest at load
 * time, and the returned table is a consistent snapshot (immutable file
 * list), so concurrent commits never tear a running query.
 *
 * Reads are the user view (tombstones filtered, physical columns hidden)
 * served by the same canonical-row readers as [[BucketScan]] — mixed
 * schema-vintage files are evolved per file by column-id projection, and
 * the scan is one DSv2 Batch with one input partition per occupied bucket
 * (driver plan size flat in bucket count). Time travel maps to the
 * manifest surface: `VERSION AS OF` → [[IceTable.readManifest]],
 * `TIMESTAMP AS OF` → [[IceTable.versionAsOf]] over manifest-stamped
 * commit times.
 *
 * The catalog surface is intentionally read-only for DDL: tables are
 * created and committed by the ENGINE (IceTable.create + GraftCatalog
 * .register, exactly like the reference where Hive DDL never writes
 * Gobblin data); `DROP TABLE` unregisters the name only (external-table
 * semantics — data and snapshots stay in place).
 */
final class GraftSparkCatalog extends TableCatalog {

  private var catalogName: String = _
  private var cat: GraftCatalog = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val dir = Option(options.get("dir")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.dir must point at a graft catalog " +
          "directory (GraftCatalog root)"))
    cat = new GraftCatalog(dir)
  }

  override def name(): String = catalogName

  /** single flat namespace: `graft.t` and `graft.default.t` both resolve */
  private def nsOk(ns: Array[String]): Boolean =
    ns.isEmpty || (ns.length == 1 && ns(0).equalsIgnoreCase("default"))

  override def listTables(ns: Array[String]): Array[Identifier] = {
    if (!nsOk(ns)) throw new NoSuchNamespaceException(ns)
    cat.tables().keys.toSeq.sorted.map(n => Identifier.of(ns, n)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    nsOk(ident.namespace()) && cat.entry(ident.name()).isDefined

  private def iceFor(ident: Identifier): IceTable = {
    if (!nsOk(ident.namespace()) || cat.entry(ident.name()).isEmpty)
      throw new NoSuchTableException(ident)
    cat.load(ident.name())
  }

  /** `<cat>.<table>.changes` → the table's change feed (ChangeFeedTable):
    * batch = feed from origin, streaming = tail the snapshot log. A data
    * table named literally "changes" is unaffected (`<cat>.changes` has an
    * empty namespace and resolves as a data table). */
  private def feedFor(ident: Identifier): Option[Table] =
    if (!ident.name().equalsIgnoreCase("changes")) None
    else {
      val base = ident.namespace() match {
        case Array(t0) => Some(t0)
        case Array(d, t0) if d.equalsIgnoreCase("default") => Some(t0)
        case _ => None
      }
      base.filter(b => cat.entry(b).isDefined).map(b =>
        new ChangeFeedTable(s"$catalogName.$b.changes", cat.load(b)))
    }

  override def loadTable(ident: Identifier): Table =
    feedFor(ident).getOrElse {
      val t = iceFor(ident)
      new GraftSqlTable(s"$catalogName.${ident.name()}", t,
        t.currentManifest(), writable = true)
    }

  /** `VERSION AS OF <v>` — snapshot isolation falls out of manifest
    * immutability, same as [[IceTable.readAt]]. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = iceFor(ident)
    val v = version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft snapshot versions are integers; got '$version'"))
    new GraftSqlTable(s"$catalogName.${ident.name()}@v$v", t,
      Some(t.readManifest(v)))
  }

  /** `TIMESTAMP AS OF <t>` — Spark hands the timestamp in MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = iceFor(ident)
    val v = t.versionAsOf(timestampMicros / 1000L).getOrElse(
      throw new NoSuchTableException(ident))
    new GraftSqlTable(s"$catalogName.${ident.name()}@t$v", t,
      Some(t.readManifest(v)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft tables are created by the engine (IceTable.create + " +
        "GraftCatalog.register), not by SQL DDL")

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "schema evolution goes through the engine's SchemaRegistry, " +
        "not SQL DDL")

  /** external-table semantics: unregister the NAME; data stays in place */
  override def dropTable(ident: Identifier): Boolean =
    nsOk(ident.namespace()) && cat.unregister(ident.name())

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "rename via GraftCatalog.register(newName)/unregister(oldName)")
}

/** A loaded snapshot as a DSv2 table: USER schema (physical columns
  * hidden), BATCH_READ, tombstones filtered in the partition readers. The
  * manifest is resolved ONCE at load — the table is an immutable snapshot
  * view regardless of concurrent commits.
  *
  * `writable = true` (only the PLAIN load — never a time-travel snapshot)
  * additionally exposes the SQL write path: `INSERT INTO` /
  * `df.writeTo(...).append()` route through the engine's epoch machinery
  * (see [[SqlAppend]] — allocation, constraints, and the append contract
  * live there). The write always applies against the table's CURRENT
  * state at execution time, not this loaded snapshot (the commit CAS is
  * the arbiter), matching SQL expectations. */
private[table] final class GraftSqlTable(tableName: String, t: IceTable,
    m: Option[EpochManifest], writable: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private val schemaId =
    m.map(_.schemaId).getOrElse(SchemaRegistry.baseSchemaId)
  private val canonical = BucketScan.canonicalSchema(schemaId)
  private val userSchema = StructType(canonical.dropRight(3))

  override def name(): String = tableName
  override def schema(): StructType = userSchema
  override def capabilities(): util.Set[TableCapability] =
    if (writable)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE)
    else util.EnumSet.of(TableCapability.BATCH_READ)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (!writable)
      throw new UnsupportedOperationException(
        s"$tableName is a read-only snapshot view (time travel / feed); " +
          "INSERT goes to the plain table identifier")
    val nLogOpt = Option(info.options.get("nlogpartitions")).map(_.toInt)
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwrite: Boolean): Unit = {
                if (overwrite) throw new UnsupportedOperationException(
                  "INSERT OVERWRITE is not supported: graft tables are " +
                    "append-only through SQL (truncation is an engine/" +
                    "maintenance decision)")
                SqlAppend.append(data.sparkSession, t, data, nLogOpt)
              }
            }
        }
    }
  }

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      private var required: Option[Seq[String]] = None
      private var pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array.empty

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema.fieldNames.toSeq)

      /** parquet skipping is BEST-EFFORT (row groups / pages):
        * every filter is handed to the readers as an IO hint AND returned
        * here as a post-scan filter, so correctness never depends on the
        * push (the stock parquet V2 source's contract). */
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        pushed = filters
        filters
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        pushed

      override def build(): Scan =
        new GraftUserScan(userSchema, canonical,
          m.map(_.files).getOrElse(Nil), schemaId, tableName, required,
          pushed.toSeq)
    }
}

private final class GraftUserScan(fullUserSchema: StructType,
    fullCanonical: StructType, files: Seq[graft.model.DataFileEntry],
    schemaId: Int, tableName: String, requiredCols: Option[Seq[String]],
    filters: Seq[org.apache.spark.sql.sources.Filter])
    extends Scan with Batch {

  // pruned layouts preserve the ORIGINAL column order (scanParts prunes by
  // filtering the target schema, so reader output matches these exactly)
  private val userSchema = requiredCols match {
    case Some(names) =>
      val keep = names.toSet
      StructType(fullUserSchema.fields.filter(f => keep(f.name)))
    case None => fullUserSchema
  }
  private val canonical =
    StructType(userSchema.fields ++ fullCanonical.takeRight(3))

  // one partition per OCCUPIED bucket (an empty table scans one empty
  // partition — BucketScan wants a non-empty bucket universe)
  private lazy val (parts, innerFactory) = {
    val spark = SparkSession.active
    val buckets = files.map(_.bucket).distinct.sorted match {
      case Seq() => Seq(0)
      case bs => bs
    }
    BucketScan.scanParts(spark, files, buckets, schemaId,
      requiredCols.map(_ => userSchema.fieldNames.toSeq), filters)
  }

  override def readSchema(): StructType = userSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = parts
  override def createReaderFactory(): PartitionReaderFactory =
    new UserViewFactory(innerFactory, canonical)
  override def description(): String =
    s"graft-table-scan[$tableName, ${files.size} files, " +
      s"cols=${userSchema.fieldNames.mkString(",")}" +
      (if (filters.nonEmpty) s", pushed=${filters.mkString(",")}" else "") +
      "]"
}

/** Wraps the canonical-row readers in the user view: rows with a set
  * `deleted` flag are skipped, physical trailing columns (bucket, lastSeq,
  * deleted) are projected away. The projection is built per reader on the
  * EXECUTOR (codegen'd UnsafeProjection over bound references). */
private final class UserViewFactory(inner: PartitionReaderFactory,
    canonical: StructType) extends PartitionReaderFactory {

  private val nUser = canonical.length - 3
  private val deletedIdx = canonical.length - 1

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val in = inner.createReader(p)
    new PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(
        (0 until nUser).map(i => BoundReference(i, canonical(i).dataType,
          nullable = true): Expression).toArray)
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (in.next()) {
          val r = in.get()
          if (r.isNullAt(deletedIdx) || !r.getBoolean(deletedIdx)) {
            cur = proj(r)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = in.close()
    }
  }
}
