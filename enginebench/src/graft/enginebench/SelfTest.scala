package graft.enginebench

import org.apache.spark.sql.functions._

/** Self-test of the benchmark's JVM side: the digests are order
  * independent, and every workload at a tiny scale passes its correctness
  * gate with tracing on. Exits non-zero on the first failure.
  *
  * Usage: SelfTest --root DIR --workloads backfill,trickle,serve --seconds S
  */
object SelfTest {

  private def expect(what: String, ok: Boolean): Unit =
    if (ok) println(s"ok   $what")
    else { println(s"FAIL $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val root = opts("root")
    val workloads = opts("workloads").split(",").toSeq.filter(_.nonEmpty)
    val seconds = opts("seconds").toDouble

    val rows = (0 until 200).map(i => Seq(s"r${i % 7}", s"p$i", s"c$i"))
    val shuffled = new scala.util.Random(7).shuffle(rows)
    expect("row digest ignores order",
      Digest.ofRows(rows) == Digest.ofRows(shuffled))
    expect("row digest sees a changed row",
      Digest.ofRows(rows) != Digest.ofRows(rows.updated(3, Seq("r3", "p3", "x"))))
    expect("row digest sees a duplicated row",
      Digest.ofRows(rows) != Digest.ofRows(rows :+ rows.head))

    val spark = BenchMain.session(root, "selftest")
    try {
      import spark.implicits._
      val df = rows.map(r => (r(0), r(1), r(2))).toDF("repo", "path", "content")
      val d = Digest.ofTable(df)
      expect("table digest ignores partitioning and order",
        d == Digest.ofTable(df.repartition(5)) &&
          d == Digest.ofTable(df.orderBy(col("path").desc)))
      expect("table digest sees a changed content",
        d != Digest.ofTable(df.withColumn("content",
          when(col("path") === "p3", lit("x")).otherwise(col("content")))))

      workloads.foreach { w =>
        val dir = s"$root/$w"
        val rec = BenchMain.execute(spark, w, seed = 1L, seconds = seconds,
          traced = true, root = dir, scale = 0.02)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
        expect(s"$w at scale 0.02 passes its gate",
          rec.contains("\"failed\":0,") && !rec.contains("\"fail\":1") &&
            !rec.contains("\"failures\":[\""))
      }
    } finally spark.stop()
  }
}
