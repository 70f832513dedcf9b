package graft.maintenance

import graft.model.{EpochManifest, EpochStats}
import graft.table.IceTable
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Table re-bucketing: migrate a table whose data outgrew its hash-bucket
 * width into a new bucket count, as ONE atomic snapshot commit. The
 * partition-spec-evolution analog of the reference's Iceberg integration
 * (gobblin-iceberg/.../writer/IcebergMetadataWriter.java:507-524 —
 * updateSpec().addField): the bucket count lives in the MANIFEST
 * (EpochManifest.numBuckets), so every reader/merger after the commit plans
 * against the new layout and time-travel readers of older snapshots keep
 * the old one.
 *
 * Shape: one full rewrite — read every manifest-listed file, recompute
 * `bucket = pmod(xxhash64(repo, path), newN)`, one shuffle into the new
 * layout (hash of `bucket` into IceTable.packedTasks partitions, sized from
 * the table's bytes, so every bucket is one file), publish, commit. A
 * re-bucket is inherently a full-table shuffle (every key can change
 * buckets); what matters at 100 TB is that it happens as ONE pass with no
 * driver materialization, its output is verified by footer counts before
 * commit, and it runs rarely (bucket width bounds rewrite amplification, so
 * operators re-bucket when per-bucket bytes grow past the compaction sweet
 * spot).
 *
 * Offsets/fence/completeness are carried unchanged — replay protection is
 * independent of the physical layout.
 */
object Rebucket {

  final case class RebucketReport(
      version: Long, oldNumBuckets: Int, newNumBuckets: Int,
      rows: Long, files: Int)

  def rebucket(spark: SparkSession, table: IceTable,
               newNumBuckets: Int): RebucketReport =
    // observation-safe: rebucketing a table whose rows all filter away at
    // runtime would be an empty plan; keep the verifier's CollectMetrics
    // node alive (graft.table.AqeSafety) so obs.get cannot hang
    graft.table.AqeSafety.withObservationsSafe(spark) {
    val parent = table.currentManifest().getOrElse(
      throw new IllegalStateException("nothing to rebucket"))
    val oldN = table.bucketCountOf(Some(parent))
    require(newNumBuckets > 0, "bucket count must be positive")
    require(newNumBuckets != oldN,
      s"table already has $oldN buckets")

    val obs = Observation(s"rebucket-${parent.version}")
    val remapped = table.readFiles(spark, parent.files, parent.schemaId)
      .withColumn("bucket",
        table.bucketCol(col("repo"), col("path"), newNumBuckets))
      .observe(obs, count(lit(1)).as("n"))

    // disjoint epoch-id range from ingest (1e9+v = compaction, 2e9+v = this)
    val epochId = 2000000000L + parent.version
    val newFiles = table.writeEpochFiles(remapped, epochId, parent.schemaId,
      nBuckets = newNumBuckets, sourceFiles = parent.files)

    val rowsIn = org.apache.spark.sql.GraftSqlBridge
      .awaitObservation(spark, obs, "rebucket-verifier")
      .apply("n").asInstanceOf[Long]
    require(newFiles.forall(_.rows >= 0),
      s"rebucket verifier failed: footer counts unavailable for " +
        s"${newFiles.filter(_.rows < 0).map(_.path).mkString(", ")}; " +
        "aborting (no commit)")
    val rowsOut = newFiles.map(_.rows).sum
    require(rowsOut == rowsIn,
      s"rebucket verifier failed: read $rowsIn rows but published files " +
        s"hold $rowsOut; aborting (no commit)")

    val manifest = parent.copy(
      version = parent.version + 1,
      epochId = epochId,
      files = newFiles.sortBy(f => (f.bucket, f.path)),
      stats = EpochStats(0, 0, 0, 0, 0, 0),
      parentVersion = parent.version,
      numBuckets = newNumBuckets)
    val committed = table.commit(manifest)
    RebucketReport(committed.version, oldN, newNumBuckets, rowsOut,
      newFiles.size)
    }
}
