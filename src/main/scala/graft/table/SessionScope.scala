package graft.table

import org.apache.spark.sql.SparkSession

/**
 * Session state the engine sets around its own plans and jobs, and puts
 * back as it found it: the storage-partitioned-join confs its bucket-aligned
 * joins plan under, and the description its Spark jobs carry.
 */
object SessionScope {

  /** The storage-partitioned-join (SPJ) confs under which a join of two
    * bucket-aligned sides keyed on (bucket, ...) plans with ZERO exchanges:
    *  - `requireAllClusterKeysForCoPartition=false`: the sides are
    *    co-partitioned on `bucket` ALONE, a function of the join key.
    *    Spark's default demands ALL join keys and would stack a
    *    (repo, path)-keyed hash shuffle on both sides; a subset of the join
    *    keys still co-locates equal keys, so relaxing it is safe.
    *  - `v2.bucketing.enabled`: Catalyst exposes the `BucketScan`'s
    *    reported `KeyGroupedPartitioning`.
    *  - `v2.bucketing.shuffle.enabled`: Catalyst accepts co-partitioning
    *    against a side laid out to match (the merge's winners); without it
    *    EnsureRequirements re-shuffles BOTH sides.
    * The merge (`MergeEngine`'s `scope` stage) and the version diff
    * (`IceTable.changesBetween`) scope them around their own planning only,
    * so the caller's own joins keep the caller's confs. */
  val CoPartitionConfs: Seq[(String, String)] = Seq(
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true")

  /** Set `confs(s)` on every session `s` in `sessions` (each session's
    * entries are computed from its own state before any is set). Returns
    * the undo: every touched key back to its previous value, or unset. */
  def setConfs(sessions: Seq[SparkSession])(
      confs: SparkSession => Seq[(String, String)]): () => Unit = {
    val prev = sessions.flatMap { s =>
      val kvs = confs(s)
      val before = kvs.map { case (k, _) => (s, k, s.conf.getOption(k)) }
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      before
    }
    () => prev.reverse.foreach {
      case (s, k, Some(v)) => s.conf.set(k, v)
      case (s, k, None) => s.conf.unset(k)
    }
  }

  /** Run `f` (which must force its plans: planning reads the confs) under
    * [[CoPartitionConfs]] on `spark`, restoring the caller's values after. */
  def coPartitioned[T](spark: SparkSession)(f: => T): T = {
    val restore = setConfs(Seq(spark))(_ => CoPartitionConfs)
    try f finally restore()
  }

  /** `SparkContext.SPARK_JOB_DESCRIPTION` (private to Spark) */
  val JobDescriptionKey: String = "spark.job.description"

  /** Run `f` with `description` as the `spark.job.description` of every
    * Spark job it starts on this thread, restoring the caller's description
    * (or none) after. A `SparkListener` reads it from the job's properties,
    * so it can tell which engine step started a job. */
  def withJobDescription[T](spark: SparkSession, description: String)(
      f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescriptionKey)
    sc.setLocalProperty(JobDescriptionKey, description)
    // a null value removes the property
    try f finally sc.setLocalProperty(JobDescriptionKey, prev)
  }
}
