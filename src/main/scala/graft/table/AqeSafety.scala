package graft.table

import org.apache.spark.sql.SparkSession

/**
 * Observation metrics ride `CollectMetrics` nodes, and AQE's
 * empty-relation propagation REPLACES a plan subtree with `EmptyRelation`
 * when a runtime query stage returns 0 rows — pruning the CollectMetrics
 * node out of the executed plan, so the observation never fires. For this
 * engine that is not a corner case: a FULLY-FENCED replay epoch's winner
 * aggregate is runtime-empty by design, and an all-purge compaction's kept
 * set is too; a blocking `Observation.get` there would hang forever and a
 * defaulted read would silently drop counters (the r3 bug class).
 *
 * Fix: scope-exclude `AQEPropagateEmptyRelation` around every
 * observation-bearing job. A runtime-empty plan loses only a no-op
 * optimization (there are no rows to not-process); every counter the
 * commit gate reconciles keeps its metrics node.
 */
object AqeSafety {
  val EmptyRelationRule: String =
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"

  private val Key = "spark.sql.adaptive.optimizer.excludedRules"

  /** the exclusion-list conf entry for `spark`: its current exclusions
    * merged with [[EmptyRelationRule]] (preserves any user-configured
    * exclusions) */
  def excludedRulesConf(spark: SparkSession): (String, String) =
    Key -> (spark.conf.getOption(Key).toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty) :+ EmptyRelationRule)
      .distinct.mkString(",")

  /** run `f` with empty-relation propagation excluded; restores the
    * previous exclusion list on exit */
  def withObservationsSafe[T](spark: SparkSession)(f: => T): T = {
    val restore =
      SessionScope.setConfs(Seq(spark))(s => Seq(excludedRulesConf(s)))
    try f finally restore()
  }
}
