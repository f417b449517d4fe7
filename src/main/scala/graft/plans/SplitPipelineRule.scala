package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.internal.Logging

/** Pipeline-splitting rewrite — the Spark re-expression of the reference's
  * experiment machinery that materializes intermediates inside long join
  * chains (reference `src/optimizer/split_long_pipeline.cpp:7-33` — insert
  * a PIPELINE_BREAKER under consecutive joins;
  * `src/execution/operator/helper/physical_pipeline_breaker.cpp`).
  *
  * In Spark a pipeline breaker is an exchange: forcing a shuffle
  * `Repartition` under the upper join of a join-over-join chain splits one
  * long whole-stage-codegen pipeline into two stages, giving AQE a
  * re-planning point (runtime stats → join strategy switch / skew split) —
  * the same lever the reference pulls for bushy-plan experiments.
  *
  * Like the reference (not in its default optimizer pass list), no
  * session runs it by default: a session opts in by adding it to
  * `spark.experimental.extraOptimizations`, and then it always rewrites.
  */
case class SplitPipelineRule() extends Rule[LogicalPlan] with Logging {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val n = conf.numShufflePartitions
    plan.transformUp {
      // join whose left input is itself a join → break the chain; transformUp
      // is idempotent because the inserted Repartition no longer matches.
      case j @ Join(left: Join, _, _, _, _) =>
        j.copy(left = Repartition(n, shuffle = true, left))
    }
  }
}

/** Extension installer: every `graft.EngineSession` carries it; elsewhere,
  * a session builder's `withExtensions(new GraftExtensions)` or config
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // DuckDB-dialect fallback: native parse wins; on ParseException the
    // statement is retried through graft.sql.DuckDialect.translate with
    // the session's macros and ATTACH aliases.
    e.injectParser((session, parser) => new graft.sql.DuckFallbackParser(session, parser))
  }
}
