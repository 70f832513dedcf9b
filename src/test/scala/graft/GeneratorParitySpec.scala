package graft

import graft.log.{ChangeLogGen, LogSpec}

/** The Column-expression generator must be BIT-IDENTICAL to the
  * row-at-a-time reference (eventAt) — the whole correctness story rests on
  * every component generating the same log. */
class GeneratorParitySpec extends SparkSpec {
  import spark.implicits._

  private def parity(spec: LogSpec): Unit = {
    val expr = ChangeLogGen.generate(spark, spec).collect()
      .map(e => e.seq -> e).toMap
    val local = ChangeLogGen.generateLocal(spec).toVector
    assert(expr.size == local.size)
    local.foreach { e =>
      assert(expr(e.seq) == e, s"mismatch at seq=${e.seq}:\n  expr=${expr(e.seq)}\n  ref =$e")
    }
  }

  test("expression generator is bit-identical to eventAt (default spec shape)") {
    parity(LogSpec(seed = 42L, nEvents = 5000, nRepos = 100,
      nPathsPerRepo = 200))
  }

  test("parity holds across seeds, sizes, skew, delete rates") {
    parity(LogSpec(seed = 7L, nEvents = 2000, nRepos = 5, nPathsPerRepo = 8,
      zipfExponent = 1.4, pDelete = 0.3, contentWords = 11))
    parity(LogSpec(seed = -1234567L, nEvents = 1000, nRepos = 500,
      nPathsPerRepo = 400, zipfExponent = 1.0, pDelete = 0.0,
      contentWords = 1))
  }

  test("writeLog writes one contiguous seq range per file in one Spark " +
      "job, bit-identical to eventAt") {
    val spec = LogSpec(seed = 9L, nEvents = 1000, nRepos = 20,
      nPathsPerRepo = 30, contentWords = 5)
    val dir = tmpDir("genlog")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    assert(org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark, 10000L))
    spark.sparkContext.addSparkListener(listener)
    try {
      ChangeLogGen.writeLog(spark, spec, dir, nFiles = 4)
      assert(org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark,
        10000L))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 1, s"the log write ran ${jobs.get} Spark jobs")
    val files = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.size == 4, s"files: $files")
    val ranges = files.map { f =>
      val seqs = spark.read.parquet(f).select("seq").as[Long].collect().sorted
      assert(seqs.nonEmpty && seqs.toSeq == (seqs.head to seqs.last),
        s"$f must hold one contiguous seq range")
      (seqs.head, seqs.last)
    }.sortBy(_._1)
    assert(ranges.head._1 == 0L && ranges.last._2 == spec.nEvents - 1 &&
      ranges.sliding(2).forall { case Seq(a, b) => b._1 == a._2 + 1 },
      s"the files' ranges must tile the log: $ranges")
    val written = spark.read.parquet(dir).as[graft.model.ChangeEvent]
      .collect().sortBy(_.seq).toSeq
    assert(written == ChangeLogGen.generateLocal(spec).toSeq)
  }

  test("slice generation is bit-identical to eventAt at the bench shape") {
    // ReplayJob feeds the engine EPOCH SLICES of the expression generator
    // (generateExprSlice) — parity must hold on interior ranges (fromSeq >
    // 0), not just full [0, n) generations, and at the bench's own spec
    // shape (500 repos, 400 paths, 40 words) so the ingest legs replay the
    // EXACT log the row-at-a-time reference defines.
    val spec = LogSpec(seed = 42L, nEvents = 10000, nRepos = 500,
      nPathsPerRepo = 400, contentWords = 40)
    val cdf = ChangeLogGen.zipfCdf(spec.nRepos, spec.zipfExponent)
    Seq((0L, 100L), (3777L, 6541L), (9000L, 10000L)).foreach {
      case (lo, hi) =>
        val expr = ChangeLogGen.generateExprSlice(spark, spec, lo, hi)
          .as[graft.model.ChangeEvent].collect().map(e => e.seq -> e).toMap
        assert(expr.size == (hi - lo))
        (lo until hi).foreach { s =>
          val ref = ChangeLogGen.eventAt(spec, cdf, s)
          assert(expr(s) == ref,
            s"mismatch at seq=$s:\n  expr=${expr(s)}\n  ref =$ref")
        }
    }
  }
}
