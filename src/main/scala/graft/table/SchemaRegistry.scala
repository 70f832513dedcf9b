package graft.table

import org.apache.spark.sql.types._

/**
 * Schema-registry-style resolver with column-id-based evolution.
 *
 * The reference resolves schemas through a registry and evolves the sink
 * table inside the commit transaction (KafkaSchemaRegistry +
 * KafkaSchemaChangeInjector, gobblin-modules/gobblin-kafka-common/...;
 * IcebergMetadataWriter.java:455-524, 1039). Here a schema version is a list
 * of `(colId, name, type)`; renames preserve the colId (Iceberg's field-id
 * trick), so a file written under any older schema can be projected to the
 * current schema purely at read time (BucketScan): match columns by id,
 * `cast` to widen, null-fill additions. No data rewrite on evolution — the new schema id is
 * committed in the snapshot manifest, atomically with data (SURVEY.md
 * trap #6).
 */
final case class ColumnDef(colId: Int, name: String, dataType: String)
final case class SchemaDef(id: Int, columns: Seq[ColumnDef]) {
  def byColId: Map[Int, ColumnDef] = columns.map(c => c.colId -> c).toMap
}

object SchemaRegistry {

  val baseSchemaId = 1

  /** registry type name → Spark type — the ONE mapping every reader of
    * registry schemas (BucketScan's read-time evolution, the change feed's
    * delete synthesis) shares; adding a type here adds it everywhere. */
  def sparkType(t: String): DataType = t match {
    case "string" => StringType
    case "int" => IntegerType
    case "long" => LongType
    case "double" => DoubleType
    case other => throw new IllegalArgumentException(s"type $other")
  }

  /** Scripted version history (FIXTURES.md §4). colIds are stable. */
  val versions: Map[Int, SchemaDef] = {
    val v1 = SchemaDef(1, Seq(
      ColumnDef(1, "repo", "string"), ColumnDef(2, "path", "string"),
      ColumnDef(3, "commit", "string"), ColumnDef(4, "lang", "string"),
      ColumnDef(5, "content", "string"), ColumnDef(6, "contentSha", "string")))
    val v2 = SchemaDef(2, v1.columns :+ ColumnDef(7, "sizeBytes", "int"))
    val v3 = SchemaDef(3, v2.columns.map(c =>
      if (c.colId == 4) c.copy(name = "language") else c))
    val v4 = SchemaDef(4, v3.columns.map(c =>
      if (c.colId == 7) c.copy(dataType = "long") else c))
    Map(1 -> v1, 2 -> v2, 3 -> v3, 4 -> v4)
  }

  def schemaFor(id: Int): SchemaDef = versions(id)

  /** Validate an evolution step: only add / rename / widen are legal. */
  def validateEvolution(from: SchemaDef, to: SchemaDef): Unit = {
    val widenOk = Set(("int", "long"), ("int", "double"), ("long", "double"),
      ("float", "double"))
    from.columns.foreach { fc =>
      to.byColId.get(fc.colId) match {
        case None =>
          throw new IllegalArgumentException(
            s"drop of colId ${fc.colId} (${fc.name}) is not a legal evolution")
        case Some(tc) if tc.dataType != fc.dataType
            && !widenOk(fc.dataType -> tc.dataType) =>
          throw new IllegalArgumentException(
            s"narrowing ${fc.name}: ${fc.dataType}->${tc.dataType}")
        case _ => ()
      }
    }
  }
}
