package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import Util._

/** Typed-Aggregator (UDAF) surface.
  *
  * The buffer carries exact decimal sums (scala BigDecimal ⇒ Decimal in the
  * Tungsten buffer), so reduce/merge are associative+commutative and the
  * result is independent of partitioning — the property every distributed
  * aggregate needs at 100 TB, and the property that makes the DuckDB oracle
  * (decimal sums in SQL) hash-match.
  */
object Udaf {

  case class WBuf(sumPQ: BigDecimal, sumQ: BigDecimal)

  /** Quantity-weighted average price: sum(p·q)/sum(q). Inputs are doubles
    * holding 2-decimal values; `d2` recovers the exact decimal the same way
    * both engines' CAST(double AS DECIMAL(·,2)) does (HALF_UP). */
  object WeightedAvgAgg extends Aggregator[(Double, Double), WBuf, Double] {
    private def d2(x: Double): BigDecimal =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    def zero: WBuf = WBuf(BigDecimal(0), BigDecimal(0))
    def reduce(b: WBuf, in: (Double, Double)): WBuf =
      WBuf(b.sumPQ + d2(in._1) * d2(in._2), b.sumQ + d2(in._2))
    def merge(a: WBuf, b: WBuf): WBuf =
      WBuf(a.sumPQ + b.sumPQ, a.sumQ + b.sumQ)
    def finish(b: WBuf): Double =
      if (b.sumQ.signum == 0) 0.0 else b.sumPQ.toDouble / b.sumQ.toDouble
    def bufferEncoder: Encoder[WBuf] = Encoders.product[WBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  case class MinKBuf(xs: Seq[Long])

  /** Bounded "k smallest distinct longs" summary — the constant-state
    * replacement for `array_sort(collect_set(id))` + truncation wherever
    * bucket membership must be capped: collect_set's buffer grows with
    * the true bucket size BEFORE any size filter can apply (an
    * exact-duplicate mega-cluster means an unbounded aggregation buffer),
    * while this Aggregator's state is ≤ k+? ids regardless of input size
    * and reduce/merge are associative+commutative, so map-side partials
    * compose and the result is partitioning-independent. Callers use
    * k = cap for deterministic truncation (the [[Dedup.LshBucketCap]]
    * discipline) or k = cap+1 for drop-if-overflow semantics (a final
    * size of cap+1 proves the true membership exceeded cap — the
    * [[Text.NgramDfCap]] hot-bucket exclusion — without ever
    * materializing the full membership). Output is sorted ascending,
    * identical to the capped collect_set spelling and to the oracles'
    * QUALIFY row_number() ≤ k. */
  class MinKLongs(k: Int) extends Aggregator[Long, MinKBuf, Seq[Long]] {
    def zero: MinKBuf = MinKBuf(scala.collection.immutable.Vector.empty)
    def reduce(b: MinKBuf, x: Long): MinKBuf = {
      val xs = b.xs
      if (xs.length >= k && x >= xs.last) b
      else {
        val i = {
          // binary search for the insertion point in the sorted buffer
          var lo = 0; var hi = xs.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (xs(mid) < x) lo = mid + 1 else hi = mid
          }
          lo
        }
        if (i < xs.length && xs(i) == x) b   // set semantics: ids collect once
        else MinKBuf(((xs.take(i) :+ x) ++ xs.drop(i)).take(k))
      }
    }
    def merge(a: MinKBuf, b: MinKBuf): MinKBuf =
      MinKBuf((a.xs ++ b.xs).distinct.sorted.take(k))
    def finish(b: MinKBuf): Seq[Long] = b.xs
    def bufferEncoder: Encoder[MinKBuf] = Encoders.product[MinKBuf]
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  case class MGBuf(m: Map[String, Long])

  /** Misra–Gries heavy-hitters summary as a typed Aggregator — the
    * bounded-state answer to "top tokens over 100 TB", where an exact
    * count needs a token-cardinality-sized shuffle. State is ≤ k
    * (token, count) pairs per group per partition; `merge` follows the
    * mergeable-summaries construction (sum maps, subtract the (k+1)-th
    * largest count, keep positives), so partial aggregation composes and
    * the error stays ≤ n/k total occurrences regardless of partitioning.
    * Guarantees (unit-tested in UdafSpec): estimates never exceed true
    * counts, undercount by at most n/k, and every token with true count
    * > n/k survives. When a group's distinct cardinality ≤ k the sketch
    * never evicts and is EXACT and order-independent — the regime the
    * declared `agg_heavy_hitters` query runs in (k=64 ≥ the corpus
    * vocabulary), which is what makes it DuckDB-oracle-gateable. */
  class MisraGries(k: Int) extends Aggregator[String, MGBuf, Map[String, Long]] {
    def zero: MGBuf = MGBuf(Map.empty)
    def reduce(b: MGBuf, tok: String): MGBuf = b.m.get(tok) match {
      case Some(c) => MGBuf(b.m.updated(tok, c + 1))
      case None if b.m.size < k => MGBuf(b.m.updated(tok, 1L))
      case None => MGBuf(b.m.flatMap { case (t, c) =>
        if (c > 1) Some(t -> (c - 1)) else None })
    }
    def merge(a: MGBuf, b: MGBuf): MGBuf = {
      val s = (a.m.keySet ++ b.m.keySet).iterator
        .map(t => t -> (a.m.getOrElse(t, 0L) + b.m.getOrElse(t, 0L))).toMap
      if (s.size <= k) MGBuf(s)
      else {
        val cut = s.values.toSeq.sorted(Ordering[Long].reverse)(k)
        MGBuf(s.flatMap { case (t, c) =>
          if (c > cut) Some(t -> (c - cut)) else None })
      }
    }
    def finish(b: MGBuf): Map[String, Long] = b.m
    def bufferEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
    def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** Heavy hitters per language: Misra–Gries(64) over the token stream,
    * top-10 per lang by estimated count. k=64 exceeds the corpus
    * vocabulary, so the sketch is exact here and the plain-count oracle
    * hash-matches; the approximate regime's bounds are unit-tested. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val mg = udaf(new MisraGries(64))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(desc("est_n"), col("token"))
    val tok = table(spark, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
    // Exact-regime guard, enforced at runtime rather than asserted in
    // prose: the sketch is exact (and therefore oracle-gateable) only
    // while k=64 ≥ the group's vocabulary — past that it evicts and the
    // output becomes partition-order-dependent. Fail loudly instead of
    // nondeterministically mismatching the exact-count oracle.
    val agg = tok.groupBy("lang")
      .agg(mg(col("token")).as("hh"), countDistinct(col("token")).as("nd"))
      .withColumn("_guard", assert_true(col("nd") <= 64,
        lit("agg_heavy_hitters exact regime violated: per-lang vocabulary > k=64")))
      .filter(col("_guard").isNull)
    agg
      .select(col("lang"), explode(col("hh")).as(Seq("token", "est_n")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("token"), col("est_n"))
      .orderBy("lang", "rk")
  }

  /** Weighted average exercised per returnflag; the oracle re-derives the
    * same math in SQL, proving the Aggregator's arithmetic end to end. */
  def weightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val wavg = udaf(WeightedAvgAgg)
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        r4(wavg(col("l_extendedprice"), col("l_quantity"))).as("wavg_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "udaf_weighted_avg" -> (weightedAvg _),
    "agg_heavy_hitters" -> (heavyHitters _))

  val oracleSql: Map[String, String] = Map(
    "agg_heavy_hitters" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token
                    FROM documents),
         c AS (SELECT lang, token, count(*) AS est_n FROM t GROUP BY lang, token)
         SELECT lang,
           CAST(row_number() OVER (PARTITION BY lang ORDER BY est_n DESC, token) AS BIGINT) AS rk,
           token, est_n
         FROM c QUALIFY rk <= 10
         ORDER BY lang, rk""",
    "udaf_weighted_avg" ->
      """SELECT l_returnflag,
         floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE)
           / CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS wavg_price,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
}
