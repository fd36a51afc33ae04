package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the engine's custom Catalyst functions, so `spark.sql`
  * users get the same primitives as the Scala API (the reference's users
  * configure everything through one entry point,
  * api/ResponsiveKafkaStreams.java; ours is the standard Spark seam):
  *
  *  - cluster config: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (applied at session build — the production path);
  *  - runtime: `GraftFunctions.register(spark)` on a live session (tests,
  *    notebooks).
  *
  * Registered: graft_dot, graft_array_eq_count, graft_rolling_hash
  * (scalar codegen expressions); graft_minhash(col, k), graft_simhash,
  * graft_topk(score, id, k), graft_approx_count_distinct(col, rsd)
  * (TypedImperativeAggregates — the analyzer wraps the returned
  * AggregateFunction). Sketch parameters must be literals (integer k,
  * double rsd), like Spark's own approx_percentile accuracy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      info("graft_dot", "_FUNC_(a, b) - dot product of two array<double> (codegen)"),
      args => DotProduct(args(0), args(1))),
    ("graft_array_eq_count",
      info("graft_array_eq_count", "_FUNC_(a, b) - count of agreeing slots of two array<bigint>"),
      args => ArrayEqualCount(args(0), args(1))),
    ("graft_rolling_hash",
      info("graft_rolling_hash", "_FUNC_(s) - 31-ary polynomial rolling hash mod 2^31-1"),
      args => RollingHash(args(0))),
    ("graft_sorted_intersect_count",
      info("graft_sorted_intersect_count",
        "_FUNC_(a, b) - intersection size of two sorted array<bigint>"),
      args => SortedIntersectCount(args(0), args(1))),
    ("graft_minhash",
      info("graft_minhash", "_FUNC_(gh, k) - k-slot MinHash signature over 64-bit hashes (agg)"),
      args => MinHashAgg(args(0), intLit(args(1), "graft_minhash k"))),
    ("graft_minhash_array",
      info("graft_minhash_array",
        "_FUNC_(ghs, k) - k-slot MinHash signature of one row's array<bigint> gram hashes (scalar twin of graft_minhash)"),
      args => MinHashArray(args(0), intLit(args(1), "graft_minhash_array k"))),
    ("graft_simhash",
      info("graft_simhash", "_FUNC_(h) - tf-weighted 64-bit SimHash over word hashes (agg)"),
      args => SimHashAgg(args(0))),
    ("graft_topk",
      info("graft_topk", "_FUNC_(score, id, k) - bounded top-k by (score DESC, id ASC) (agg)"),
      args => TopKAgg(args(0), args(1), intLit(args(2), "graft_topk k"))),
    ("graft_approx_count_distinct",
      info("graft_approx_count_distinct",
        "_FUNC_(col, rsd) - HLL++ distinct count, equal to approx_count_distinct, over one binary buffer (agg)"),
      // the rsd check approx_count_distinct itself applies
      args => HllAgg(args(0), HyperLogLogPlusPlus.validateDoubleLiteral(args(1)))))

  /** Register on a live session (the runtime path). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), inf, builder)
    }
}
