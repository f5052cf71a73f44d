package graft

import org.apache.spark.sql.execution.{InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec,
  HashAggregateExec}
import org.apache.spark.sql.types.DecimalType

import graft.functions.Int128Sum

/** Plan gate for the exact-statistics sums: each row's query, run at
  * sf0.001, must execute its sums as a whole-stage-codegen'd
  * `HashAggregate` over [[Int128Sum]]'s two-long buffer, and no aggregate
  * in its executed plan may carry a `decimal(38,0)` buffer attribute — the
  * per-row BigDecimal buffer of `sum(x.cast("decimal(38,0)") [* y])`.
  * An edit that brings one of those sums back fails its row, naming the
  * aggregate function and its buffer.
  */
class SumBufferGateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Registry prefixes whose aggregates are all exact integer sums. */
  private val rows = Seq("q160", "q201", "q329")

  /** The operators one `WholeStageCodegenExec` fuses. */
  private def fused(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(fused)
  }

  for (prefix <- rows) {
    test(s"$prefix: codegen'd Int128Sum aggregate, no decimal(38,0) " +
        "aggregation buffer") {
      val name = SparkEntry.queries.keys.find(_.startsWith(prefix + "_"))
        .getOrElse(fail(s"no registry query $prefix"))
      val df = SparkEntry.queries(name)(spark, sf001)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val d38Buffers = collect(plan) { case a: BaseAggregateExec => a }
        .flatMap(_.aggregateExpressions.map(_.aggregateFunction))
        .filter(_.aggBufferAttributes.exists(_.dataType == DecimalType(38, 0)))
        .map(_.toString).distinct
      if (d38Buffers.nonEmpty) fail(s"$name has ${d38Buffers.size} " +
        s"aggregates with a decimal(38,0) buffer, first: ${d38Buffers.head}")
      val codegenInt128 = collect(plan) { case w: WholeStageCodegenExec => w }
        .flatMap(w => fused(w.child)).exists {
          case h: HashAggregateExec => h.aggregateExpressions
            .exists(_.aggregateFunction.isInstanceOf[Int128Sum])
          case _ => false
        }
      assert(codegenInt128,
        s"$name has no whole-stage-codegen'd HashAggregate over exact_sum")
    }
  }
}
