package graft

import scala.util.Try
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.CollectSortExec

/** Sort family: a collected `ORDER BY` merges per-partition sorted runs on
  * the driver ([[CollectSortExec]]); every other consumer range-shuffles.
  * Over the whole declared surface at sf0.001, the two paths must give the
  * same rows in the same order. */
class CollectSortSpec extends AnyFunSuite with SparkFixture {
  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A child session on which AQE leaves shuffle partitions uncoalesced,
    * so a collected sort merges one run per shuffle partition. */
  private def session(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }

  /** Every declared query built on `s` over `dir`, as its analyzed plan,
    * so each sweep plans afresh without re-running the builders' eager
    * jobs. A query whose builder throws is left out. */
  private def build(s: SparkSession, dir: String): Seq[(String, LogicalPlan)] = for {
    (name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)
    plan <- Try(q(s, dir).queryExecution.analyzed).toOption
  } yield name -> plan

  private type Outcome = Either[String, Seq[Row]]

  /** Plans each query on `s` and runs those whose plan root is
    * [[CollectSortExec]] down both paths of one `QueryExecution`:
    * `collect()`, then `toRdd`, which re-reads the shuffle stages the
    * collect materialized and runs the range exchange and sort. A throw is
    * recorded as its exception class. */
  private def sweep(s: SparkSession, plans: Seq[(String, LogicalPlan)])
      : Seq[(String, Outcome, Outcome)] = for {
    (name, plan) <- plans
    df = Bridge.ofRows(s, plan)
    if Try(df.queryExecution.executedPlan).toOption.exists {
      case a: AdaptiveSparkPlanExec => a.executedPlan.isInstanceOf[CollectSortExec]
      case p => p.isInstanceOf[CollectSortExec]
    }
  } yield {
    def outcome(rows: => Seq[Row]): Outcome = Try(rows).toEither.left.map(_.getClass.getName)
    val collected = outcome(df.collect().toSeq)
    val ranged = outcome {
      val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
      df.queryExecution.toRdd.map(_.copy()).collect().toSeq.map(toRow)
    }
    (name, collected, ranged)
  }

  /** Both paths agree on every query, or throw the same way on it. */
  private def check(outcomes: Seq[(String, Outcome, Outcome)]): Unit = {
    info(s"${outcomes.size} collected sorts compared")
    assert(outcomes.size > 100, s"too few collected sorts compared: ${outcomes.size}")
    val bad = outcomes.collect { case (name, c, r) if c != r =>
      s"$name:\n  collect: ${c.map(_.take(5))}\n  range:   ${r.map(_.take(5))}" }
    assert(bad.isEmpty, bad.mkString(s"${bad.size} of ${outcomes.size} differ:\n", "\n", ""))
  }

  private lazy val shared = session()
  private lazy val declared = build(shared, sf)

  for (n <- Seq(1, 7)) test(s"collect() equals the range path row for row at shuffle.partitions=$n") {
    shared.conf.set("spark.sql.shuffle.partitions", n.toString)
    val outcomes = sweep(shared, declared)
    assert(outcomes.exists(_._1 == "agg_pricing_summary"))
    val threw = outcomes.collect { case (name, c, r) if c.isLeft || r.isLeft => s"$name: $c / $r" }
    assert(threw.isEmpty, threw.mkString("threw on the fixture corpus:\n", "\n", ""))
    check(outcomes)
  }

  test("collect() equals the range path on zero-row inputs") {
    val empty = fixtureDir(tables.map(t => t -> spark.read.parquet(s"$sf/$t.parquet").limit(0)): _*)
    val s = session()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    check(sweep(s, build(s, empty)))
  }
}
