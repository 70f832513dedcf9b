package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** true iff printed plan `p` reads a file through the bucket scan: the
    * merge into a non-empty target, not the first epoch's, whose empty
    * target scans bucket 0 with no file */
  def bucketScanReadsFiles(p: String): Boolean =
    """graft-bucket-scan\[\d+ buckets, [1-9]\d* files""".r
      .findFirstIn(p).nonEmpty
}
