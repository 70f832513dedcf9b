package graft.table

import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

/** Vintage translation of pushdown filters (BucketScan.translateFilters):
  * rename-aware via colId, widen/missing columns dropped soundly (safe
  * under And, both-or-none under Or, Not never pushed). */
class BucketScanFilterSpec extends AnyFunSuite {

  private val v1 = SchemaRegistry.schemaFor(1) // ... lang(4) ..., no col 7
  private val v2 = SchemaRegistry.schemaFor(2) // + sizeBytes(7) as int
  private val v4 = SchemaRegistry.schemaFor(4) // language(4), sizeBytes long

  private def tr(f: Filter, vintage: SchemaDef, target: SchemaDef = v4) =
    BucketScan.translateFilters(Seq(f), target, vintage)

  test("renamed column translates to the vintage's written name") {
    assert(tr(EqualTo("language", "scala"), v1) ==
      Seq(EqualTo("lang", "scala")))
    // same name in a later vintage passes through
    assert(tr(EqualTo("language", "scala"), v4) ==
      Seq(EqualTo("language", "scala")))
  }

  test("columns the vintage lacks or stores widened are dropped") {
    assert(tr(GreaterThan("sizeBytes", 10L), v1).isEmpty,
      "colId 7 does not exist in v1")
    assert(tr(GreaterThan("sizeBytes", 10L), v2).isEmpty,
      "v2 stores sizeBytes as int; a long-typed filter must not push")
    assert(tr(GreaterThan("sizeBytes", 10L), v4) ==
      Seq(GreaterThan("sizeBytes", 10L)))
  }

  test("stored physical columns push under their own names; bucket drops") {
    assert(tr(GreaterThan("lastSeq", 5L), v1) ==
      Seq(GreaterThan("lastSeq", 5L)))
    assert(tr(EqualTo("deleted", true), v4) == Seq(EqualTo("deleted", true)))
    assert(tr(EqualTo("bucket", 3), v4).isEmpty,
      "bucket is a partition value, not a file column")
  }

  test("And keeps the surviving conjunct; Or is both-or-none; Not drops") {
    val and = And(EqualTo("repo", "r"), GreaterThan("sizeBytes", 1L))
    assert(tr(and, v1) == Seq(EqualTo("repo", "r")),
      "dropping a conjunct weakens the filter — safe")
    val or = Or(EqualTo("repo", "r"), GreaterThan("sizeBytes", 1L))
    assert(tr(or, v1).isEmpty,
      "dropping a disjunct would STRENGTHEN the filter — push nothing")
    assert(tr(Or(EqualTo("repo", "r"), EqualTo("language", "go")), v1) ==
      Seq(Or(EqualTo("repo", "r"), EqualTo("lang", "go"))))
    assert(tr(Not(EqualTo("repo", "r")), v4).isEmpty,
      "negations are never pushed")
  }
}
