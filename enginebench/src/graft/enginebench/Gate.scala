package graft.enginebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-independent digest of a set of rows: row count plus the sum and
  * the xor of a 64-bit hash of each row. Addition and xor commute, so the
  * digest does not depend on partitioning or row order. */
final case class Digest(rows: Long, sum: BigInt, xor: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
  override def toString: String = s"rows=$rows sum=$sum xor=$xor"
}

object Digest {
  val empty: Digest = Digest(0L, BigInt(0), 0L)

  /** 64-bit hash of one row given as its fields (driver side) */
  def rowHash(fields: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    fields.foreach { f =>
      md.update(Option(f).getOrElse("\u0001null").getBytes("UTF-8"))
      md.update(0.toByte)
    }
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }

  def ofRows(rows: Iterable[Seq[String]]): Digest =
    rows.foldLeft(empty) { (d, r) =>
      val h = rowHash(r)
      Digest(d.rows + 1, d.sum + h, d.xor ^ h)
    }

  /** Digest of a user view over `(repo, path, sha256(content))`, computed
    * by Spark without collecting the rows. */
  def ofTable(df: DataFrame): Digest = {
    val h = xxhash64(col("repo"), col("path"), sha2(col("content"), 256))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")),
        bit_xor(col("h")))
      .head()
    Digest(r.getLong(0),
      if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** The independent side of the correctness gate: what the table must hold,
  * computed from the binlog by plain Spark aggregates that never call the
  * merge engine. */
object Fold {
  /** Last-writer-wins fold of the log's events with `seq <= hiSeq`: the
    * max-seq event per key, deletes dropped. Generated seqs are unique, so
    * `max_by` needs no tie-break. */
  def live(spark: SparkSession, logDir: String, hiSeq: Long): DataFrame =
    spark.read.parquet(logDir)
      .filter(col("seq") <= hiSeq)
      .groupBy("repo", "path")
      .agg(max_by(struct("op", "commit", "lang", "content"), col("seq"))
        .as("w"))
      .filter(col("w.op") =!= "d")
      .select(col("repo"), col("path"), col("w.commit").as("commit"),
        col("w.lang").as("lang"), col("w.content").as("content"))

  /** Per-language row count and content length: the scan aggregate. */
  def langAggregate(df: DataFrame): Map[String, (Long, Long)] =
    df.groupBy("lang")
      .agg(count(lit(1)), sum(length(col("content"))))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
}
