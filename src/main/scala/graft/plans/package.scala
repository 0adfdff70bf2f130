package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

package object plans {

  /** The engine's optimizer rules, in the order they run. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(EpochNsTranspose, SortBelowProject)

  /** Adds the missing engine rules to the session's extra optimizations;
    * holding the session's lock, so concurrent installs lose no rule.
    */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    exp.synchronized {
      val missing = rules.filterNot(exp.extraOptimizations.contains)
      if (missing.nonEmpty) exp.extraOptimizations = exp.extraOptimizations ++ missing
    }
  }
}
