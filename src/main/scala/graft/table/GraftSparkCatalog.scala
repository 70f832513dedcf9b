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
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{BooleanType, StructType}
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
 * served by [[BucketScan]]'s own scan builder, narrowed per row — mixed
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
  private val userSchema = BucketScan.userSchema(schemaId)

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

  /** the bucket scan's own builder over this snapshot's files, one input
    * partition per occupied bucket, asked for `deleted` besides the user's
    * columns; its rows are then narrowed to the user view */
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val files = m.map(_.files).getOrElse(Nil)
    val inner = new BucketScan.Builder(SparkSession.active, files,
      BucketScan.occupiedBuckets(files), schemaId)
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      private var user = userSchema

      override def pruneColumns(requiredSchema: StructType): Unit = {
        val keep = requiredSchema.fieldNames.toSet
        user = StructType(userSchema.fields.filter(f => keep(f.name)))
        inner.pruneColumns(user.add("deleted", BooleanType))
      }
      override def pushFilters(filters: Array[Filter]): Array[Filter] =
        inner.pushFilters(filters)
      override def pushedFilters(): Array[Filter] = inner.pushedFilters()
      override def build(): Scan =
        new UserViewScan(inner.build(), user, tableName)
    }
  }
}

/** The user view of a bucket scan: its partitions and readers, rows with a
  * set `deleted` flag skipped, the scan's leading `user` columns kept. It
  * reports no partitioning. */
private final class UserViewScan(inner: Scan, user: StructType,
    tableName: String) extends Scan with Batch {
  override def readSchema(): StructType = user
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    inner.toBatch.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    new UserViewFactory(inner.toBatch.createReaderFactory(), user,
      inner.readSchema().fieldIndex("deleted"))
  override def description(): String =
    s"graft-table-scan[$tableName, ${inner.description()}]"
}

/** Wraps the bucket scan's readers in the user view: rows with a set
  * `deleted` flag (at `deletedIdx`) are skipped, the leading `user`
  * columns are kept. The projection is built per reader on the EXECUTOR
  * (codegen'd UnsafeProjection over bound references). */
private final class UserViewFactory(inner: PartitionReaderFactory,
    user: StructType, deletedIdx: Int) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val in = inner.createReader(p)
    new PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(
        user.fields.indices.map(i => BoundReference(i, user(i).dataType,
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
