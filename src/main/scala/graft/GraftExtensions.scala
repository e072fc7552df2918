package graft

import graft.functions.VectorExpressions.{CosineSim, DotProduct, VecNorm2}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** Session extension wiring the engine into Spark SQL: registers the native
  * kernels and the engine's aggregators as SQL functions so
  * `spark.sql("SELECT cosine_sim(a,b)")` plans the codegen'd expressions
  * directly, plus the banded range-join optimizer rule.
  *
  * Install via `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // opt-in banded rewrite of residual range joins (see the rule scaladoc)
    e.injectOptimizerRule(graft.plans.BandedRangeJoinRule.apply)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.functions.udaf

  /** Every SQL function the engine registers, by name. Both registration
    * paths ([[GraftExtensions.apply]] and [[install]]) read this table. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> (args => DotProduct(args(0), args(1))),
    "vec_norm2" -> (args => VecNorm2(args(0))),
    "cosine_sim" -> (args => CosineSim(args(0), args(1))),
    // the dedup sketch kernels: token_hashes(arr) → 60-bit hashes,
    // simhash_32(hashes) → sketch
    "token_hashes" -> (args => graft.functions.TokenHashKernel.TokenHashes(args(0))),
    "simhash_32" -> (args => graft.functions.SimHashKernel.SimHash32(args(0))),
    // the mergeable quantile sketch: qsketch_quantiles(x) → [p50, p90, p99]
    "qsketch_quantiles" -> Bridge.aggregator("qsketch_quantiles",
      udaf(new graft.functions.QuantileSketchAggregator(Seq(0.5, 0.9, 0.99)))),
    // probe points as a call-site argument:
    // qsketch_quantiles_at(x, array(0.25, 0.75))
    "qsketch_quantiles_at" -> Bridge.aggregator("qsketch_quantiles_at",
      udaf(new graft.functions.QuantileSketchAtAggregator())),
    // bounded-memory heavy hitters: freq_items(tok) → top-20 of a
    // 1000-counter Misra-Gries sketch with [low, high] count bounds
    "freq_items" -> Bridge.aggregator("freq_items",
      udaf(new graft.functions.FrequentItemsAggregator(capacity = 1000, topK = 20))))

  /** Same registrations on an already-built session (extensions only apply
    * at `SparkSession.builder` time; tests and notebooks land here). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, builder) => Bridge.registerFunction(spark, name, builder) }
    // the banded range-join rewrite on a live session (extraOptimizations
    // is the post-build injection point for optimizer rules)
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.BandedRangeJoinRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.BandedRangeJoinRule(spark)
  }
}
