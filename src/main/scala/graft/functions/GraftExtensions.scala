package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge
import graft.plans.{CollectSortStrategy, TopKStrategy, TopKWindowRewrite}

/** SparkSessionExtensions hook: registers graft's native expressions in the
  * SQL function registry, so `spark.sql("SELECT dot_product_float(a, b)")`
  * plans the same codegen'd expression the DataFrame API uses, plus the
  * TopKPerKey strategy, the row_number()<=k window rewrite and the
  * collected-sort strategy ([[graft.plans.CollectSortStrategy]]). Activate
  * with `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * as [[graft.GraftSession]] does; other sessions get the same from
  * [[GraftExtensions.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, className, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => CollectSortStrategy)
    // rewrite row_number()<=k window idiom into the bounded-heap exec
    ext.injectOptimizerRule(_ => TopKWindowRewrite)
  }
}

object GraftExtensions {
  private def binary(name: String, mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"$name expects 2 arguments, got ${args.length}")
    mk(args.head, args(1))
  }

  /** The engine's native-expression registry: (SQL name, class, builder). */
  private[functions] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("dot_product_float", classOf[DotProductFloat].getName,
      binary("dot_product_float", DotProductFloat.apply)),
    ("dot_product_float_double", classOf[DotProductFloatDouble].getName,
      binary("dot_product_float_double", DotProductFloatDouble.apply)),
    ("mask_intersect_count", classOf[MaskIntersectCount].getName,
      binary("mask_intersect_count", MaskIntersectCount.apply)),
    ("sq_dist_double", classOf[SqDistDouble].getName,
      binary("sq_dist_double", SqDistDouble.apply)),
    ("char_entropy", classOf[CharEntropy].getName, { args =>
      require(args.length == 1,
        s"char_entropy expects 1 argument, got ${args.length}")
      CharEntropy(args.head)
    }),
    // minhash_band_sigs(hashes, k, r): k and r must be foldable ints —
    // the expression is planned with literal slice geometry, mirroring
    // the DataFrame-side MinhashBandSigs.bandSigs(col, K, R) helper.
    ("minhash_band_sigs", classOf[MinhashBandSigs].getName, { args =>
      require(args.length == 3,
        s"minhash_band_sigs expects 3 arguments, got ${args.length}")
      def intLit(e: Expression, which: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"minhash_band_sigs $which must be an integer literal, got $other")
      }
      MinhashBandSigs(args.head, intLit(args(1), "k"), intLit(args(2), "r"))
    }))

  /** Session-independent, so its encoders are derived once per JVM. */
  private lazy val misraGries =
    org.apache.spark.sql.functions.udaf(new graft.ops.Udaf.MisraGries(64))

  /** Sessions [[install]] has run on; weak, so none is pinned. */
  private val installed = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** The one place that changes a live session's state; idempotent, and
    * [[graft.ops.Util.table]] and [[graft.plans.TopK.topKPerKey]] run it on
    * every use. Registers the native expressions and the SQL UDAF
    * `misra_gries_topk(col)` (k=64, the declared-query configuration),
    * adds the TopK rules and [[CollectSortStrategy]] unless the session's
    * extensions inject them, and sets `nanosAsLong` for
    * [[graft.ops.Util.eventsTs]]. */
  def install(spark: SparkSession): Unit = installed.synchronized {
    if (!installed.contains(spark)) {
      functions.foreach { case (name, className, builder) =>
        Bridge.registerFunction(spark, name, className, builder)
      }
      spark.udf.register("misra_gries_topk", misraGries)
      val injected = Bridge.injectedRules(spark)
      val exp = spark.experimental
      val strategies = Seq(TopKStrategy, CollectSortStrategy).filterNot(injected.contains)
      exp.extraStrategies = exp.extraStrategies ++ strategies
      if (!injected.contains(TopKWindowRewrite))
        exp.extraOptimizations = exp.extraOptimizations :+ TopKWindowRewrite
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      installed.add(spark)
    }
  }
}
