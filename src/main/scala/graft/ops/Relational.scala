package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Util._

/** Relational core: joins, aggregations, windows, sorts, set ops.
  *
  * The reference's only relational shapes are existence checks
  * (`src/bak_unload.ps1:57-66,106-111`) and `Count` guards (`:38,44`);
  * everything here is the derived full-engine surface (SURVEY.md §2 Part B),
  * designed Spark-first: declarative plans, broadcast hints only where a side
  * is provably small, exact decimal sums for oracle-stable float aggregates.
  */
object Relational {

  // ---- scan -----------------------------------------------------------

  /** Projection + range filter that must reach the parquet scan: Catalyst
    * pushes the l_shipdate bounds into PushedFilters and prunes ReadSchema
    * to the 5 output columns (asserted in PlanSpec). At 100 TB this is the
    * difference between scanning a year and scanning everything. */
  def scanProjectFilter(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp_ntz(lit("1996-01-01 00:00:00"))
    val hi = to_timestamp_ntz(lit("1997-01-01 00:00:00"))
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_orderkey"), col("l_linenumber"),
        dateS(col("l_shipdate")).as("ship_date"),
        col("l_quantity"), col("l_extendedprice"))
      // full-row ordering: (orderkey, linenumber) is NOT unique in this
      // corpus (the kendall-tau finding), and at sf1 density the tie
      // order actually diverged between engines (sweep find) — remaining
      // ties are between identical rows, so the output is deterministic
      .orderBy("l_orderkey", "l_linenumber", "ship_date", "l_quantity",
        "l_extendedprice")
  }

  // ---- joins ----------------------------------------------------------

  /** Fact-to-fact equi join; at scale this is a shuffle (sort-merge or
    * AQE-selected shuffled-hash) on the join key — both sides co-partition
    * on l_orderkey/o_orderkey, aggregation is partial+final. */
  def joinInnerHash(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o = table(spark, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice").cast(Money) * oneMinus(col("l_discount"))).cast("double"), 4).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** Star-schema lookup: nation (25 rows) and region (5 rows) are broadcast —
    * the fact side never shuffles. This is the 100 TB pattern for dimension
    * enrichment. */
  def joinBroadcastDim(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val n = table(spark, dir, "nation")
    val r = table(spark, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), dsumR(col("c_acctbal"), Money).as("sum_bal"))
      .orderBy("r_name", "n_name")
  }

  /** Left outer with zero-preserving count: count(col) skips nulls, so
    * customers with no orders report 0. */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  /** Semi join — customers having ≥1 open ('O') order; the EXISTS idiom the
    * reference uses for its grant guard (`src/bak_unload.ps1:106-111`). */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders").filter(col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** Anti join — customers with no finished ('F') order; the reference's
    * seen-set shape (`src/bak_unload.ps1:57-66`). The right side is
    * filtered so the result is non-empty at every sf (5/71/511 rows at
    * sf0.001/0.01/0.1) — the round-1 unfiltered version returned 0 rows
    * and passed its oracle vacuously. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Full outer join — customers vs event-active user ids; both unmatched
    * sides survive with nulls, flagged and coalesced deterministically. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer").select(col("c_custkey"))
    val u = table(spark, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    c.join(u, c("c_custkey") === u("user_id"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("user_id")).as("id"),
        col("c_custkey").isNotNull.cast("long").as("is_customer"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("id")
  }

  /** Theta/range join: equi key carries the shuffle, the BETWEEN residual is
    * evaluated post-match — no nested-loop blowup. */
  def joinThetaRange(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    val li = table(spark, dir, "lineitem")
    p.join(li,
        p("p_partkey") === li("l_partkey") &&
          li("l_quantity").between(p("p_size") - 5, p("p_size") + 5))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), dsumR(col("l_quantity"), Qty).as("sum_qty"))
      .orderBy("p_brand")
  }

  /** Binned pure-interval join — the scalable spelling of a date-range
    * (SCD-2 style) lookup with NO equi key: orders against a table of
    * 45-day epochs, matched by BETWEEN containment. Without an equi key
    * Spark would plan a nested-loop; bucketing both sides onto a 30-day
    * bin grid turns containment into an equi join on `bin` (each epoch
    * explodes into the ≤⌈45/30⌉+1 bins it overlaps, each order into its
    * single bin), with the exact BETWEEN kept as a post-join filter.
    * Candidates per order are the ~2 epochs sharing its bin, not all
    * epochs — at 10⁹ ranges this shuffles on bin instead of replicating
    * either side. The bin convention itself is correctness-irrelevant
    * (the residual filter decides), so the oracle is the plain BETWEEN
    * join. Non-overlapping epochs + one bin per order ⇒ no dedup needed. */
  def joinRangeBinned(spark: SparkSession, dir: String): DataFrame = {
    val anchor = lit("1995-01-01").cast("date")
    val epochs = spark.range(8).select(
      col("id").cast("long").as("epoch_id"),
      date_add(anchor, (col("id") * 45).cast("int")).as("e_start"),
      date_add(anchor, (col("id") * 45 + 44).cast("int")).as("e_end"))
    val eb = epochs.select(col("epoch_id"), col("e_start"), col("e_end"),
      explode(sequence(
        floor(datediff(col("e_start"), anchor) / 30.0).cast("long"),
        floor(datediff(col("e_end"), anchor) / 30.0).cast("long"))).as("bin"))
    val o = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("od"))
      .withColumn("bin", floor(datediff(col("od"), anchor) / 30.0).cast("long"))
    o.join(eb, Seq("bin"))
      .filter(col("od") >= col("e_start") && col("od") <= col("e_end"))
      .groupBy("epoch_id")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast(Money)).cast("double"), 4).as("sum_price"))
      .orderBy("epoch_id")
  }

  /** As-of join — each event paired with the user's latest order at/before
    * its ts. Spark has no ASOF JOIN; the scalable formulation is the
    * union+window one: tag both sides, sort within user by (time, tag) so
    * orders at the same instant precede events (ties are `<=`, matching
    * DuckDB ASOF), and carry the last non-null order date forward. One
    * shuffle on user, no pair explosion — this survives 100 TB where a
    * range join would not. */
  def joinAsofEventOrder(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events").select(
      col("user_id").as("uid"),
      unix_micros(col("ts")).as("t_us"),
      lit(1).as("is_event"),
      col("event_id"),
      tsS(col("ts")).as("ts_s"),
      lit(null).cast("string").as("od"))
    val o = table(spark, dir, "orders").select(
      col("o_custkey").as("uid"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("t_us"),
      lit(0).as("is_event"),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("string").as("ts_s"),
      dateS(col("o_orderdate")).as("od"))
    val w = Window.partitionBy("uid").orderBy(col("t_us"), col("is_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.unionByName(o)
      .withColumn("order_date", last(col("od"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("uid").as("user_id"), col("ts_s"), col("order_date"))
      .orderBy("event_id")
  }

  /** FORWARD as-of join — each click paired with the same user's NEXT
    * purchase at/after it (`merge_asof(direction='forward')`): the
    * conversion-lookup shape of attribution. Same union+window
    * formulation as the backward as-of ([[joinAsofEventOrder]]) with the
    * frame reversed: sort within user by (time, tag) so purchases at the
    * same instant FOLLOW clicks (ties are `<=`, matching DuckDB's
    * forward ASOF), and take the first non-null purchase time in the
    * following frame. ONE shuffle on user, no pair space — a range join
    * would explode on users with many clicks × many purchases. The
    * matched purchase's carried values (its ts, the gap) are identical
    * for any purchase sharing that instant, so equal-ts right-side
    * duplicates cannot make the output ambiguous. */
  def joinAsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val c = ev.filter(col("event_type") === "click").select(
      col("user_id").as("uid"),
      unix_micros(col("ts")).as("t_us"),
      lit(0).as("is_p"),
      col("event_id"),
      tsS(col("ts")).as("ts_s"),
      lit(null).cast("long").as("p_us"))
    val p = ev.filter(col("event_type") === "purchase").select(
      col("user_id").as("uid"),
      unix_micros(col("ts")).as("t_us"),
      lit(1).as("is_p"),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("string").as("ts_s"),
      unix_micros(col("ts")).as("p_us"))
    val w = Window.partitionBy("uid").orderBy(col("t_us"), col("is_p"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    c.unionByName(p)
      .withColumn("m_us", first(col("p_us"), ignoreNulls = true).over(w))
      .filter(col("is_p") === 0)
      .select(
        col("event_id"), col("uid").as("user_id"), col("ts_s"),
        tsS(timestamp_micros(col("m_us"))).as("purchase_ts"),
        (col("m_us") - col("t_us")).as("gap_us"))
      .orderBy("event_id")
  }

  /** As-of join WITH TOLERANCE — [[joinAsofEventOrder]]'s latest-at-or-
    * before match, but a match only counts when it is at most 30 days
    * old (the `merge_asof(tolerance=...)` semantics: a user's years-old
    * last order should not attribute today's event). Same union+window
    * shape — ONE shuffle on user, no pair space: the window carries the
    * matched order's TIME forward alongside its date, and the tolerance
    * is a post-window filter on the gap, so adding tolerance costs zero
    * extra shuffles over the plain as-of. Out-of-tolerance matches
    * surface as NULL date + NULL gap (the row is kept — left semantics). */
  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val tolUs = 30L * 86400000000L
    val e = table(spark, dir, "events").select(
      col("user_id").as("uid"),
      unix_micros(col("ts")).as("t_us"),
      lit(1).as("is_event"),
      col("event_id"),
      lit(null).cast("long").as("o_us"),
      lit(null).cast("string").as("od"))
    val o = table(spark, dir, "orders").select(
      col("o_custkey").as("uid"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("t_us"),
      lit(0).as("is_event"),
      lit(null).cast("long").as("event_id"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"),
      dateS(col("o_orderdate")).as("od"))
    val w = Window.partitionBy("uid").orderBy(col("t_us"), col("is_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.unionByName(o)
      .withColumn("m_us", last(col("o_us"), ignoreNulls = true).over(w))
      .withColumn("m_od", last(col("od"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .withColumn("in_tol",
        col("m_us").isNotNull && (col("t_us") - col("m_us")) <= tolUs)
      .select(
        col("event_id"), col("uid").as("user_id"),
        when(col("in_tol"), col("m_od")).as("order_date"),
        when(col("in_tol"), expr("(t_us - m_us) div 86400000000"))
          .cast("long").as("gap_days"))
      .orderBy("event_id")
  }

  /** Multi-way star join (TPC-H Q5 shape) — the join-ORDER showcase:
    * lineitem ⋈ orders ⋈ supplier ⋈ nation ⋈ region with a region
    * filter and an order-date range, revenue per nation. The right
    * 100 TB plan, which Catalyst+AQE produce from this declarative
    * spelling without hints: region/nation/supplier broadcast (each
    * shrinks further under the pushed region filter), the date filter
    * pushes into the orders scan, and the only real shuffle is
    * lineitem ⋈ orders on orderkey — one exchange for a 5-table join.
    * A wrong order (fact-first cross of lineitem×supplier, or shipping
    * the dims through the fact shuffle) is the difference between one
    * shuffle and five at scale. */
  def joinStarSchema(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val ord = table(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1996-01-01"))
      .select(col("o_orderkey"))
    val sup = table(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    val reg = table(spark, dir, "region")
      .filter(col("r_name") === "ASIA").select(col("r_regionkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice").cast(Money) * oneMinus(col("l_discount")))
          .cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** Top-k aggregated revenue (TPC-H Q3 shape) — the OTHER classic plan
    * family next to [[joinStarSchema]]'s Q5: filter a dimension
    * (market segment), join through the fact pair, aggregate per order,
    * and take the global top 10 by revenue. The plan property that
    * matters at 100 TB is the TAIL: a global top-k over an aggregate
    * must plan TakeOrderedAndProject (per-partition heaps, k rows to
    * the driver), never a full sort of the aggregated set
    * (PlanSpec-asserted). Ties break on o_orderkey so the frame is
    * deterministic cross-engine. */
  def joinTopkRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = table(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-06-01"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), dateS(col("o_orderdate")).as("o_date"))
      .agg(
        round(sum(col("l_extendedprice").cast(Money) * oneMinus(col("l_discount")))
          .cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
  }

  /** NEAREST as-of join — each click paired with the same user's closest
    * purchase in EITHER time direction (`merge_asof(direction=
    * 'nearest')`), ties to the backward match; completes the as-of
    * family next to [[joinAsofEventOrder]] (backward),
    * [[joinAsofForward]], and [[joinAsofTolerance]]. One union + ONE
    * shuffle/sort on (user, time, tag): purchases sort before clicks at
    * the same instant, so the backward frame (preceding ∪ current) sees
    * same-instant purchases as gap-0 matches — which win any tie by the
    * backward preference — and the forward frame (current ∪ following)
    * only ever needs strictly-later purchases. Both frames run over the
    * same partitioned sort; no |clicks|×|purchases| pair space exists at
    * any scale. */
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val c = ev.filter(col("event_type") === "click").select(
      col("user_id").as("uid"), unix_micros(col("ts")).as("t_us"),
      lit(1).as("is_c"), col("event_id"), tsS(col("ts")).as("ts_s"),
      lit(null).cast("long").as("p_us"))
    val p = ev.filter(col("event_type") === "purchase").select(
      col("user_id").as("uid"), unix_micros(col("ts")).as("t_us"),
      lit(0).as("is_c"), lit(null).cast("long").as("event_id"),
      lit(null).cast("string").as("ts_s"),
      unix_micros(col("ts")).as("p_us"))
    val ord = Window.partitionBy("uid")
      .orderBy(col("t_us"), col("is_c"), col("event_id"))
    val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val takeBackward = col("b_us").isNotNull &&
      (col("f_us").isNull || (col("t_us") - col("b_us")) <= (col("f_us") - col("t_us")))
    c.unionByName(p)
      .withColumn("b_us", max(col("p_us")).over(wb))
      .withColumn("f_us", min(col("p_us")).over(wf))
      .filter(col("is_c") === 1)
      .select(col("event_id"), col("uid").as("user_id"), col("ts_s"),
        when(takeBackward, lit("backward"))
          .when(col("f_us").isNotNull, lit("forward")).as("dir"),
        when(takeBackward, col("t_us") - col("b_us"))
          .when(col("f_us").isNotNull, col("f_us") - col("t_us"))
          .cast("long").as("gap_us"))
      .orderBy("event_id")
  }

  /** Interval join — the batch shape of a stream-stream join with an
    * event-time constraint (`purchases within 1 hour after a click, same
    * user`): equi key (user) carries the one shuffle, the time-range
    * residual is evaluated post-match — exactly how Structured Streaming
    * bounds its join state with a watermark + time-interval condition
    * ([[graft.streaming]] drives the real runtime; this is the
    * oracle-gateable semantics). */
  def joinIntervalEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("c_us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"))
    c.join(p, Seq("user_id"))
      .filter(col("p_us") >= col("c_us") && col("p_us") < col("c_us") + 3600000000L)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        ((col("p_us") - col("c_us")) / lit(1000000L)).cast("long").as("lag_s"))
      .orderBy("click_id", "purchase_id")
  }

  /** The salted skew join, oracle-proven: result must EQUAL the plain
    * equi join (salting only changes the shuffle distribution — a
    * deterministic per-row salt on the big side, the small side
    * replicated `factor` ways). The oracle is the plain join, so a salt
    * bug that drops or duplicates rows hash-fails. */
  def joinSaltedSkew(spark: SparkSession, dir: String): DataFrame = {
    val events = table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val users = table(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.ops.Skew.saltedEquiJoin(events, users, "user_id", 8)
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_event"))
      .orderBy("c_mktsegment", "event_type")
  }

  // ---- aggregations ---------------------------------------------------

  /** TPC-H Q1 shape — the canonical hash aggregate. Partial (map-side) +
    * final aggregation come free from Catalyst; sums are exact decimals so
    * the result is independent of partitioning/summation order. */
  def aggPricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val price = col("l_extendedprice").cast(Money)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsumR(col("l_quantity"), Qty).as("sum_qty"),
        dsumR(col("l_extendedprice"), Money).as("sum_base_price"),
        round(sum(price * oneMinus(col("l_discount"))).cast("double"), 4).as("sum_disc_price"),
        round(sum(price * oneMinus(col("l_discount")) * onePlus(col("l_tax"))).cast("double"), 4).as("sum_charge"),
        r4(dsum(col("l_quantity"), Qty) / count(lit(1)).cast("double")).as("avg_qty"),
        r4(dsum(col("l_extendedprice"), Money) / count(lit(1)).cast("double")).as("avg_price"),
        r4(dsum(col("l_discount"), Rate) / count(lit(1)).cast("double")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Distinct aggregate — Catalyst plans the two-phase partial-distinct
    * expansion automatically. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** Grouping sets via ROLLUP + grouping_id; NULL group labels are coalesced
    * to 'ALL' so ordering never touches engine NULL-order defaults. */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        dsumR(col("o_totalprice"), Money).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n"), col("sum_price"))
      .orderBy("gid", "status", "priority")

  /** CUBE — all 2^k grouping combinations in one pass (the other half of
    * the GROUPING-SETS family next to [[aggRollup]] and the SQL-text
    * GROUPING SETS query). Same Expand-based plan: k grouping columns
    * multiply the input 2^k-fold BEFORE the hash agg, which is the real
    * 100 TB consideration — cube on high-cardinality keys is an input
    * amplifier, so keep k small and the dimensions low-cardinality. */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        dsumR(col("o_totalprice"), Money).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n"), col("sum_price"))
      .orderBy("gid", "status", "priority")

  /** Configured relative standard deviation for the HLL++ sketch in
    * [[aggApproxDistinct]]; the declared gate allows 5× this (±10%). */
  private[graft] val HllRsd = 0.02

  /** HLL sketch distinct with the error contract driver-verified. The
    * sketch value itself is engine-specific (DuckDB cannot replay
    * Spark's HLL++ registers), so the declared frame carries the EXACT
    * distinct count plus a Spark-computed `within_bound` flag asserting
    * the sketch landed within 5× its configured rsd; the oracle computes
    * the exact count and expects `TRUE` — a sketch regression flips the
    * flag and fails the hash compare. [[aggApproxDistinctRaw]] exposes
    * the raw sketch values for the unit test. At 100 TB the exact
    * distinct (per-group hash set + Expand shuffle) is dropped and only
    * the sketch runs: fixed-size mergeable state, map-side partials. */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), HllRsd).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(
        col("event_type"), col("exact_users"), col("n"),
        (abs(col("approx_users").cast("double") - col("exact_users").cast("double"))
          <= col("exact_users").cast("double") * (5 * HllRsd)).as("within_bound"))
      .orderBy("event_type")

  /** Raw sketch counts (no exactness gate) — unit-test surface. */
  private[graft] def aggApproxDistinctRaw(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), HllRsd).as("approx_users"))
      .orderBy("event_type")

  /** Two-level HLL sketch build → merge — the pre-aggregated-sketch
    * pattern that IS the 100 TB distinct-count architecture: per-(type,
    * day) sketches are built once (the daily ingest job), persisted as
    * tiny binary columns, and any later rollup (per type here, but any
    * dimension subset) is a union of fixed-size sketches — the raw
    * corpus is never rescanned. Uses Spark's Apache DataSketches HLL
    * (`hll_sketch_agg`/`hll_union_agg`), whose binary sketches are
    * mergeable ACROSS jobs, unlike `approx_count_distinct`'s internal
    * buffer — that's what makes the persist-then-rollup architecture
    * possible. lgConfigK=14 → rsd ≈ 0.8%; the driver gate mirrors
    * [[aggApproxDistinct]]: exact count as oracle context plus a
    * within-bound flag at ±10% (>10σ) the oracle expects TRUE. */
  def aggSketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"),
        count(lit(1)).as("n_days"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("exact_users"), col("n_days"),
        (abs(col("approx_users").cast("double") - col("exact_users").cast("double"))
          <= col("exact_users").cast("double") * 0.10).as("within_bound"))
      .orderBy("event_type")
  }

  /** Conditional/boolean aggregates: count_if, bool_and/bool_or, and a
    * conditional sum — the FILTER-clause family. All partial+final like
    * any aggregate. */
  def aggFilteredBool(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        count_if(col("o_totalprice") > 200000).as("n_big"),
        bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
        bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
        dsumR(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice"))
          .otherwise(lit(0.0)), Money).as("urgent_price"))
      .orderBy("o_orderstatus")

  /** Collect-to-array aggregate made deterministic: collect_set's order is
    * partition-dependent, so the array is sorted before it leaves the
    * query (and string-joined — engines render arrays differently). */
  def aggCollectSorted(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("prios"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`: both linear-interpolate the sorted values). The
    * 100 TB path is [[aggPercentileApprox]]. */
  /** Per-group cumulative counts over the DISTINCT-VALUE histogram via
    * the two-level range-bucket cumsum (the [[aggQuantileHistogram]]
    * r13 pattern, generalized): state is bounded by the VALUE DOMAIN,
    * not the row count, and no task ever sorts a group's full
    * histogram — level 1 runs the prefix window over the model-sized
    * (grp, bucket) frame, level 2 cumsums within each bucket. This is
    * the 100 TB shape for every exact rank statistic in the engine;
    * Spark's exact `percentile()` buffers a per-group value MULTISET
    * in the aggregate state instead (an OpenHashMap rebuilt through
    * every merge — the r14 sf1 bench-of-record measured the five
    * multiset consumers at 8–18 s each, ~5× this spelling).
    * Input: (grp, v[, any]); output adds (c, cum, tot) per distinct
    * (grp, v). `bucketWidth` sizes level 1 (domain / width ≈ hundreds
    * of buckets; a wider domain gets a third level, same identity). */
  /** The (grp, v, c, bkt) distinct-value histogram behind
    * [[groupedCumHist]], repartitioned on (grp, bkt) and MATERIALIZED
    * (iterCheckpoint). r16 optimization round: the lazy spelling
    * re-derived this frame once per downstream reference — the r16
    * final-plan audit of agg_tukey_fences showed THREE lineitem scans
    * and two independent hist shuffle builds (AQE stage reuse
    * recovered only one), plus AQE flipping the hist⋈bktPre join to
    * broadcast-the-HIST (a 72 MiB broadcast of 594k rows whose stream
    * side was the 315-row bucket frame, degrading the level-2 window
    * to per-grp sorts). Materializing the reduced histogram once (a)
    * cuts every consumer to ONE corpus scan, (b) pins the (grp, bkt)
    * partitioning so the level-2 cumsum window and the bucket-level
    * aggregate both run exchange-free on top of it, and (c) leaves
    * only group-sized frames to broadcast. At 100 TB the materialized
    * frame is the DISTINCT-value histogram (bounded by the value
    * domain per group at fixed scale, ≤ corpus rows worst case) —
    * strictly smaller than one of the two extra corpus scans it
    * replaces. */
  private def bucketedHist(df: DataFrame, bucketWidth: Double): DataFrame =
    iterCheckpoint(
      df.groupBy("grp", "v").agg(count(lit(1)).as("c"))
        .withColumn("bkt", floor(col("v").cast("double") / lit(bucketWidth))
          .cast("long"))
        .repartition(col("grp"), col("bkt")))

  /** Cumulative counts over a [[bucketedHist]] frame: the two-level
    * range-bucket cumsum, now with the bucket-level frame derived
    * exchange-free from the materialized hist and broadcast back
    * EXPLICITLY (the bucket frame is ≤ |grp|·|buckets| rows — AQE must
    * never be left to broadcast the hist side instead). `tot` rides the
    * same bucket frame (a full-frame window sum over ≤ hundreds of
    * rows) instead of a third hist aggregation. Identical integer
    * arithmetic to the pre-r16 spelling: cum = pre + within-bucket
    * prefix, tot = Σc per grp. */
  private def groupedCumHistOver(hist: DataFrame): DataFrame = {
    val bktPre = hist.groupBy("grp", "bkt").agg(sum(col("c")).as("bc"))
      .withColumn("pre", coalesce(sum(col("bc")).over(
        Window.partitionBy("grp").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("tot", sum(col("bc")).over(Window.partitionBy("grp")))
      .select("grp", "bkt", "pre", "tot")
    hist.join(broadcast(bktPre), Seq("grp", "bkt"))
      .withColumn("cum", col("pre") + sum(col("c")).over(
        Window.partitionBy("grp", "bkt").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def groupedCumHist(df: DataFrame, bucketWidth: Double): DataFrame =
    groupedCumHistOver(bucketedHist(df, bucketWidth))

  /** Exact INTERPOLATED percentiles off [[groupedCumHist]], mirroring
    * Spark's `Percentile.getPercentile` bit-for-bit (verified against
    * the 4.1.2 bytecode): pos = q·(n−1); v_lo/v_hi are the 0-based
    * order statistics at ⌊pos⌋/⌈pos⌉ ("smallest v with cum ≥ k+1");
    * result = (hi−pos)·v_lo + (pos−lo)·v_hi with the equal-index and
    * equal-value short-circuits. Selection works on the RAW double
    * values (never a rescaled proxy), so the interpolation arithmetic
    * is the identical IEEE expression on identical operands.
    * Returns one row per grp: (grp, n, <alias>...) doubles. */
  private def exactPercentilesSelect(
      df: DataFrame, bucketWidth: Double, qs: Seq[(String, Double)]): DataFrame =
    exactPercentilesSelectOver(bucketedHist(df, bucketWidth), qs)

  /** [[exactPercentilesSelect]] over an already-materialized
    * [[bucketedHist]] frame, for consumers that also aggregate the
    * histogram directly (tdigest's rank check, winsorized's clamp
    * sums) — the shared hist is then ONE corpus scan total. */
  private def exactPercentilesSelectOver(
      hist: DataFrame, qs: Seq[(String, Double)]): DataFrame = {
    val cum = groupedCumHistOver(hist)
    val aggs = qs.flatMap { case (al, q) =>
      val pos = lit(q) * (col("tot") - 1).cast("double")
      Seq(min(when(col("cum") >= floor(pos) + lit(1L), col("v")))
          .as(s"${al}_lo"),
        min(when(col("cum") >= ceil(pos) + lit(1L), col("v")))
          .as(s"${al}_hi"))
    }
    val sel = cum.groupBy("grp", "tot").agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("tot", "n")
    qs.foldLeft(sel) { case (d, (al, q)) =>
      val pos = lit(q) * (col("n") - 1).cast("double")
      val lo = floor(pos).cast("double")
      val hi = ceil(pos).cast("double")
      val vlo = col(s"${al}_lo").cast("double")
      val vhi = col(s"${al}_hi").cast("double")
      d.withColumn(al,
        when(lo === hi || col(s"${al}_lo") === col(s"${al}_hi"), vlo)
          .otherwise((hi - pos) * vlo + (pos - lo) * vhi))
    }.select(col("grp") +: col("n") +: qs.map(q => col(q._1)): _*)
  }

  def aggPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val qty = exactPercentilesSelect(
      li.select(col("l_returnflag").as("grp"), col("l_quantity").as("v")),
      10.0, Seq(("qp50", 0.5), ("qp90", 0.9)))
    val price = exactPercentilesSelect(
      li.select(col("l_returnflag").as("grp"),
        col("l_extendedprice").as("v")),
      1000.0, Seq(("pp50", 0.5)))
    qty.join(price.drop("n"), "grp")
      .select(col("grp").as("l_returnflag"),
        r4(col("qp50")).as("qty_p50"), r4(col("qp90")).as("qty_p90"),
        r4(col("pp50")).as("price_p50"), col("n"))
      .orderBy("l_returnflag")
  }

  /** Accuracy parameter for [[aggPercentileApprox]]: rank error ≤
    * n/accuracy per the Greenwald–Khanna-style sketch contract. */
  private[graft] val PctApproxAccuracy = 1000

  /** Approximate percentiles — the workhorse at 100 TB, where exact
    * `percentile` must materialize every group's full value multiset
    * (unbounded per-group state) while the quantile sketch is fixed-size
    * mergeable state with map-side partial aggregation. The sketch's
    * values are engine-specific (DuckDB has no GK sketch to replay), so
    * the driver-verified contract is a VALUE BRACKET: each approx value
    * must land between the exact interpolated percentiles at q ± 0.01 —
    * a 1% rank-error gate, 10× looser than the sketch's n/accuracy
    * promise (so it never false-fails on interpolation edges) but tight
    * enough to catch any real regression. The declared frame carries the
    * exact rounded percentiles (oracle-computed context) plus the three
    * `_ok` flags the oracle expects as `TRUE`. The tighter rank-error
    * contract stays unit-tested in RelationalEdgeSpec over
    * [[aggPercentileApproxRaw]]. */
  def aggPercentileApprox(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val sk = li.groupBy(col("l_returnflag").as("grp"))
      .agg(
        // ONE sketch buffer per column (array form), not one per q
        expr(s"approx_percentile(l_quantity, array(0.5D, 0.9D), $PctApproxAccuracy)").as("a_q"),
        expr(s"approx_percentile(l_extendedprice, 0.5, $PctApproxAccuracy)").as("a_p50"),
        count(lit(1)).as("n"))
      .select(col("grp"), col("n"), col("a_p50"),
        element_at(col("a_q"), 1).as("a_q50"),
        element_at(col("a_q"), 2).as("a_q90"))
    // the exact bracket side rides the bounded-state selection, not the
    // per-group multiset buffer (groupedCumHist doc)
    val qe = exactPercentilesSelect(
      li.select(col("l_returnflag").as("grp"), col("l_quantity").as("v")),
      10.0, Seq(("q49", 0.49), ("q50", 0.5), ("q51", 0.51),
        ("q89", 0.89), ("q90", 0.9), ("q91", 0.91)))
    val pe = exactPercentilesSelect(
      li.select(col("l_returnflag").as("grp"),
        col("l_extendedprice").as("v")),
      1000.0, Seq(("p49", 0.49), ("p50", 0.5), ("p51", 0.51)))
    sk.join(qe.drop("n"), "grp").join(pe.drop("n"), "grp")
      .select(
        col("grp").as("l_returnflag"),
        r4(col("q50")).as("qty_p50"),
        r4(col("q90")).as("qty_p90"),
        r4(col("p50")).as("price_p50"),
        col("n"),
        col("a_q50").between(col("q49") - 1e-9, col("q51") + 1e-9)
          .as("qty_p50_ok"),
        col("a_q90").between(col("q89") - 1e-9, col("q91") + 1e-9)
          .as("qty_p90_ok"),
        col("a_p50").between(col("p49") - 1e-9, col("p51") + 1e-9)
          .as("price_p50_ok"))
      .orderBy("l_returnflag")
  }

  /** Raw sketch percentiles (no exactness gate) — unit-test surface. */
  private[graft] def aggPercentileApproxRaw(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr(s"approx_percentile(l_quantity, 0.5, $PctApproxAccuracy)").as("qty_p50"),
        expr(s"approx_percentile(l_quantity, 0.9, $PctApproxAccuracy)").as("qty_p90"),
        expr(s"approx_percentile(l_extendedprice, 0.5, $PctApproxAccuracy)").as("price_p50"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Percent-of-total — the reporting staple: each group's share of the
    * grand total. Two aggregations (group + grand) with the one-row
    * grand total broadcast back over the group frame — never a window
    * over the raw input (sum().over(empty partition spec) would funnel
    * the corpus through one task; here the corpus is reduced BEFORE
    * anything global happens, and the global thing is one row). */
  def aggShareOfTotal(spark: SparkSession, dir: String): DataFrame = {
    val byStatus = table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(dsum(col("o_totalprice"), Money).as("rev"), count(lit(1)).as("n"))
    val total = byStatus.agg(sum(col("rev").cast(Money)).cast("double").as("tot"))
    byStatus.crossJoin(broadcast(total))
      .select(col("o_orderstatus"),
        round(col("rev"), 4).as("revenue"), col("n"),
        r4(col("rev") / col("tot")).as("share"))
      .orderBy("o_orderstatus")
  }

  /** Several COUNT(DISTINCT …) over DIFFERENT columns in one aggregation
    * — the multi-distinct plan family: Catalyst rewrites k distinct
    * aggregates into one Expand (k+1 projections of every row, one per
    * distinct group plus one for the plain aggregates) feeding a single
    * two-level hash agg, instead of k separate scans + a join — the
    * right trade at 100 TB, where rescanning the fact table k times
    * costs more than a k-fold Expand of one scan. Plain count/sum ride
    * along in the same pass. */
  def aggMultiDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        countDistinct(year(col("o_orderdate").cast("timestamp")).cast("long"))
          .as("n_years"),
        count(lit(1)).as("n"),
        dsumR(col("o_totalprice"), Money).as("sum_price"))
      .orderBy("o_orderstatus")

  /** Pivot: one column per order priority, counts per status. Spark's
    * pivot() plans a single-pass aggregation with one CASE-filtered
    * aggregate per pivot value — exactly what the oracle spells out by
    * hand (DuckDB's PIVOT syntax would work too; the CASE form is
    * engine-portable). Pivot values are listed explicitly: at 100 TB the
    * values-discovery pre-query is a full scan you don't want implicit. */
  def aggPivot(spark: SparkSession, dir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", prios)
      .count()
      .na.fill(0L)
      .orderBy("o_orderstatus")
  }

  /** max_by/min_by (argmax) aggregates. Ties are nondeterministic in both
    * engines, so the ordinal is made unique: a (cents, orderkey) STRUCT
    * ordering, with cents derived through an exact DECIMAL — a double
    * CAST would truncate in Spark but round in DuckDB (28.99·100 =
    * 2898.999…), and the previous packed cents·10⁷+key BIGINT both
    * inherited that divergence and overflowed its key field past
    * orderkey 10⁷. The oracle expresses the same argmax as ranked
    * windows (DuckDB's arg_max cannot take a struct ordinal). */
  def aggMinMaxBy(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast(Money) * 100).cast("long")
    val ord = struct(cents.as("c"), col("o_orderkey").as("k"))
    table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), ord).as("priciest_order"),
        min_by(col("o_orderkey"), ord).as("cheapest_order"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Statistical moments — stddev and correlation — computed from exact
    * decimal power sums (Σx, Σx², Σxy) instead of the built-in Welford
    * aggregates: merge-order-dependent floating point can't hash-match an
    * oracle, power sums in decimals can. Same map-side partial + final
    * shape as any sum; the double math happens once per GROUP at the end. */
  def aggStatsMoments(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast(Qty)                       // exact 2-dec
    val y = col("l_extendedprice").cast(Money)
    val big = org.apache.spark.sql.types.DecimalType(38, 4)
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("nd"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum((x * x).cast(big)).cast("double").as("sxx"),
        sum((y * y).cast(big)).cast("double").as("syy"),
        sum((x * y).cast(big)).cast("double").as("sxy"))
      .select(
        col("l_returnflag"),
        col("nd").cast("long").as("n"),
        r4(col("sx") / col("nd")).as("mean_qty"),
        r4(sqrt((col("sxx") - col("sx") * col("sx") / col("nd")) / (col("nd") - 1.0)))
          .as("stddev_qty"),
        r4((col("sxy") - col("sx") * col("sy") / col("nd"))
          / (sqrt(col("sxx") - col("sx") * col("sx") / col("nd"))
            * sqrt(col("syy") - col("sy") * col("sy") / col("nd"))))
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** Fixed-width histogram: quantity bucketed by 10s — the portable
    * spelling of width_bucket (which DuckDB lacks). Bucket id is
    * floor(x/10) on the same exact doubles in both engines; one hash agg
    * over ≤ a handful of buckets, partial+final as usual. */
  def aggHistogram(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(floor(col("l_quantity") / 10).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), dsumR(col("l_quantity"), Qty).as("sum_qty"))
      .orderBy("bucket")

  /** Explicit null ordering: engines disagree by DEFAULT (Spark sorts
    * nulls first ascending, DuckDB last), so any nullable sort key must
    * spell NULLS FIRST/LAST — this query pins the discipline. The lag()
    * delta is null on each user's first event. */
  def sortNullOrder(spark: SparkSession, dir: String): DataFrame =
    lagDeltaFrame(spark, dir)
      .orderBy(col("delta").asc_nulls_last, col("event_id"))

  // ---- windows --------------------------------------------------------

  /** Ranking-distribution windows: ntile, percent_rank, cume_dist. With a
    * unique tie-break the ranks are distinct, so percent_rank/cume_dist
    * are ratios of exact ints — identical doubles in both engines. */
  def windowNtileDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).cast("long").as("quartile"),
        r4(percent_rank().over(w)).as("pct_rank"),
        r4(cume_dist().over(w)).as("cume"))
      .orderBy("o_orderkey")
  }

  /** Top-N per group via ranking window; tie-break on orderkey makes the
    * result total-ordered and oracle-stable. */
  def windowRankTopn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    table(spark, dir, "orders")
      .withColumn("rk", rank().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rk", "o_orderkey")
  }

  /** Running sum over an ordered frame; decimal accumulator keeps the
    * cumulative value exact (window engines may sum pairwise). */
  def windowRunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, dir, "events")
      .withColumn("running", round(sum(col("value").cast(Qty)).over(w).cast("double"), 4))
      .select(col("event_id"), col("user_id"), tsS(col("ts")).as("ts_s"), col("running"))
      .orderBy("event_id")
  }

  /** RANGE frame: per-user trailing-1-hour sum — the value-based frame
    * (all rows within the interval, including ts peers) as opposed to the
    * row-counted frames above. Ordering key is epoch micros so the frame
    * bound is exact integer arithmetic in both engines. */
  def windowRangeTrailing(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t_us"))
      .rangeBetween(-3600000000L, 0L)
    table(spark, dir, "events")
      .withColumn("t_us", unix_micros(col("ts")))
      .withColumn("trailing_1h", round(sum(col("value").cast(Qty)).over(w).cast("double"), 4))
      .select(col("event_id"), col("user_id"), col("trailing_1h"))
      .orderBy("event_id")
  }

  /** Rolling ROBUST statistics — trailing 10-event median and quartiles
    * per user, the windowed analogue of [[eventsMadOutliers]]' global
    * robust stats (a live anomaly monitor wants "is this value odd vs
    * this user's RECENT behavior", which a global median can't answer).
    * `percentile` is an exact aggregate running as a window function
    * over a ROWS frame, so per-row state is bounded at 10 values — the
    * window never holds a partition in memory. Cross-engine exactness:
    * interpolating raw 2-dp doubles diverges at ulp level between
    * engines, so values are lifted to integer CENTS first — quartile
    * interpolation on integers at dyadic fractions (.25/.5/.75) is
    * EXACT in IEEE arithmetic, and the single final /100 division is
    * one identical-input IEEE op in both engines. */
  def windowRollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, 0)
    table(spark, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("med_10", r6(expr("percentile(cents, 0.5D)").over(w) / 100.0))
      .withColumn("p25_10", r6(expr("percentile(cents, 0.25D)").over(w) / 100.0))
      .withColumn("p75_10", r6(expr("percentile(cents, 0.75D)").over(w) / 100.0))
      .select(col("event_id"), col("user_id"), col("med_10"), col("p25_10"),
        col("p75_10"))
      .orderBy("event_id")
  }

  /** Hampel filter — the robust outlier REPAIR pass a telemetry/feature
    * pipeline runs before model training: per user, a CENTERED 7-row
    * window yields the rolling median and the rolling MAD (median of
    * absolute deviations), a point is an outlier when |x − med| >
    * 3·MAD, and the repaired series substitutes the median (the classic
    * Hampel identifier; [[eventsMadOutliers]] is the global cousin —
    * this is the windowed, self-healing one). Shape at scale: ONE
    * partitioned window stage (collect the 7-element frame, everything
    * after is per-row array math) — no frame re-scan, no global sort.
    * Exactness: values quantize to integer cents first, both medians
    * are LOWER-median picks from the sorted frame (pure integer
    * selection, no interpolation to match), and the 3·MAD comparison is
    * integer arithmetic — the is_outlier bit cannot sit on a float
    * boundary by construction. */
  def windowHampelFilter(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, 3)
    table(spark, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("arr", sort_array(collect_list(col("cents")).over(w)))
      .withColumn("nw", size(col("arr")).cast("long"))
      .withColumn("med",
        element_at(col("arr"), expr("CAST((nw - 1) div 2 + 1 AS INT)")))
      .withColumn("mad",
        element_at(sort_array(transform(col("arr"),
            v => abs(v - col("med")))),
          expr("CAST((nw - 1) div 2 + 1 AS INT)")))
      .withColumn("is_outlier", abs(col("cents") - col("med")) >
        lit(3L) * col("mad"))
      .select(col("event_id"), col("user_id"), col("nw").as("n_win"),
        r6(col("med").cast("double") / 100.0).as("med"),
        r6(col("mad").cast("double") / 100.0).as("mad"),
        col("is_outlier"),
        r6(when(col("is_outlier"), col("med")).otherwise(col("cents"))
          .cast("double") / 100.0).as("repaired"))
      .orderBy("event_id")
  }

  /** Trailing-5-event OLS slope of value per user — rolling regression,
    * the trend-feature spelling of feature engineering (a per-key
    * ramp-up/ramp-down detector). The slope is assembled from four
    * TRAILING window sums (n, Σx, Σy, Σxy, Σxx with x = the per-user row
    * index) rather than any per-frame refit: each sum is one pass of the
    * same partitioned running frame, so the whole query is a single
    * partitioned window stage — no frame re-scan, no UDF. Σy/Σxy go
    * through exact decimals (value is 2-dec), x is a small integer, so
    * every sum is exactly representable and the final ratio is one
    * deterministic double division, r6-rounded on both engines. */
  def windowRollingSlope(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trail = ord.rowsBetween(-4, 0)
    val d = table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").cast(Qty).as("yv"))
      .withColumn("rn", row_number().over(ord).cast("long"))
    d.withColumn("n", count(lit(1)).over(trail).cast("long"))
      .withColumn("sx", sum(col("rn")).over(trail).cast("long"))
      .withColumn("sy", sum(col("yv")).over(trail).cast("double"))
      .withColumn("sxy",
        sum((col("yv") * col("rn"))
          .cast(org.apache.spark.sql.types.DecimalType(20, 2))).over(trail)
          .cast("double"))
      .withColumn("sxx", sum(col("rn") * col("rn")).over(trail).cast("long"))
      .select(col("user_id"), col("event_id"), col("rn"), col("n"),
        // Denominator in DOUBLE, not long: sx*sx overflows int64 once a
        // single key's row index passes ~6e8 (silent wrap on Spark,
        // promote/error on DuckDB). n,sx,sxx ≪ 2^53 per 5-row frame, so
        // the double products are exact and both engines agree bit-wise.
        when(col("n") >= 2,
          r6((col("n").cast("double") * col("sxy")
              - col("sx").cast("double") * col("sy"))
            / (col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))))
          .as("slope"))
      .orderBy("user_id", "rn")
  }

  /** lag() delta of consecutive per-user event values. */
  /** The shared per-user lag-delta projection behind [[windowLagDelta]]
    * and [[sortNullOrder]] (one definition — the two declared queries
    * differ only in their final sort). */
  private def lagDeltaFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    table(spark, dir, "events")
      .withColumn("delta", round(col("value") - lag(col("value"), 1).over(w), 4))
      .select(col("event_id"), col("user_id"), col("delta"))
  }

  def windowLagDelta(spark: SparkSession, dir: String): DataFrame =
    lagDeltaFrame(spark, dir).orderBy("event_id")

  /** first_value / last_value / nth_value over the FULL partition frame —
    * the boundary-navigation window family (lag/lead cover relative
    * offsets). The explicit UNBOUNDED FOLLOWING frame matters twice: it
    * is the only deterministic spelling of last_value (the default frame
    * ends at CURRENT ROW, where last_value degenerates to the row
    * itself), and both engines then agree exactly. Partitioned by user —
    * scales like every other per-key window. */
  def windowFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val full = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    table(spark, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        first(col("value")).over(full).as("first_v"),
        last(col("value")).over(full).as("last_v"),
        nth_value(col("value"), 2).over(full).as("second_v"))
      .orderBy("event_id")
  }

  /** Top-3 orders per customer through the CUSTOM TopKPerKey operator
    * ([[graft.plans.TopKPerKey]]: logical node → planner strategy → heap
    * exec) — the declared, oracle-gated path for the flagship custom
    * operator. Result ≡ the `row_number() <= 3` window formulation with
    * the unique orderkey tie-break, but executes as one hash shuffle on
    * the key plus O(n log k) bounded per-key heaps instead of a full
    * per-group sort — the shape that matters for top-3-per-customer over
    * 100 TB of orders. PlanSpec asserts the TopKPerKeyExec node plans. */
  def windowTopkCustom(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.TopK
    val base = table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    TopK.topKPerKey(base, Seq("o_custkey"),
      Seq(TopK.Ord("o_totalprice", descending = true), TopK.Ord("o_orderkey")), 3)
      .orderBy(col("o_custkey"), desc("o_totalprice"), col("o_orderkey"))
  }

  // ---- sort / set ops -------------------------------------------------

  /** Multi-key sort + limit → TakeOrderedAndProject (per-partition top-k,
    * single tiny reduce — the ref A6 physical shape at any scale). */
  def sortMultikeyLimit(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .orderBy(col("o_orderpriority").asc, col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))

  /** UNION / EXCEPT / INTERSECT (distinct forms; Spark's `union` is UNION ALL
    * so an explicit distinct follows it). */
  def setUnionExcept(spark: SparkSession, dir: String): DataFrame = {
    val a = table(spark, dir, "orders").select(col("o_custkey").as("k"))
    val ev = table(spark, dir, "events")
    val b = ev.filter(col("event_type") === "purchase").select(col("user_id").as("k"))
    val c = ev.filter(col("event_type") === "error").select(col("user_id").as("k"))
    a.union(b).distinct()
      .except(c)
      .union(b.intersect(c))
      .distinct()
      .orderBy("k")
  }

  /** INTERSECT ALL / EXCEPT ALL — the MULTISET complement of
    * [[setUnionExcept]]'s distinct set algebra: bag semantics keep
    * per-element multiplicities (min of the two sides for intersect,
    * truncated difference for except), which is what reconciliation
    * workloads actually need ("how many of each duplicate survive in
    * both snapshots"). Catalyst rewrites both into a count-aggregate +
    * generator (replicate rows min(c1, c2) / c1−c2 times) — one hash
    * shuffle per side on the value, no join explosion, the same partial-
    * agg shape as any groupBy at 100 TB. The output aggregates the bags
    * (counts per residual multiplicity) so the frame stays bounded. */
  def setIntersectAll(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val a = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("k"))
    val b = ev.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id").as("k"))
    val inter = a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("m"))
      .withColumn("op", lit("intersect_all"))
    val diff = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("m"))
      .withColumn("op", lit("except_all"))
    inter.unionByName(diff)
      .groupBy("op")
      .agg(count(lit(1)).as("n_keys"), sum(col("m")).as("n_rows"),
        max(col("m")).as("max_mult"), min(col("k")).as("min_key"))
      .orderBy("op")
  }

  /** OFFSET pagination — `ORDER BY … LIMIT k OFFSET n` (Spark's
    * `offset()` operator, 3.4+): page 3 of the per-customer revenue
    * ranking. Planned as GlobalLimit(offset+k) over per-partition local
    * limits — the engine ships offset+k rows to one task, which is why
    * deep pagination (n in the millions) is an anti-pattern at scale;
    * keyset pagination (WHERE k > last_seen ORDER BY k LIMIT n) is the
    * 100 TB spelling, and this query's doc is where that trade is
    * recorded. Total order (rev DESC, custkey) makes the page
    * deterministic. */
  def sortOffsetPage(spark: SparkSession, dir: String): DataFrame = {
    val pageSize = 10
    val page = 3
    table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(dsumR(col("o_totalprice"), Money).as("revenue"))
      .orderBy(desc("revenue"), col("o_custkey"))
      .offset((page - 1) * pageSize)
      .limit(pageSize)
  }

  /** UNPIVOT / melt — the inverse reshape of [[aggPivot]]: a wide
    * per-priority status-count frame back to long (priority, metric, n)
    * rows. Spark's native `unpivot` plans as a single Expand over the
    * already-aggregated (5-row) frame — the reshape itself never touches
    * the fact table, so at 100 TB the cost is the one groupBy that built
    * the wide frame. DuckDB gates through its own UNPIVOT clause. */
  def reshapeUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = table(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_pending"))
    wide.unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_open"), col("n_finished"), col("n_pending")),
        "status_metric", "n")
      .orderBy("o_orderpriority", "status_metric")
  }

  /** Null-safe equality join (`<=>`) — the join variant users need the
    * first time a key column is nullable: plain equality silently drops
    * every null-keyed row, `<=>` matches null to null. The nullable key
    * is derived ('P' → null) and the 3-row dim (including its null-keyed
    * bucket) broadcasts; Spark hashes EqualNullSafe keys like any other,
    * so the plan is a normal broadcast hash join, not a cartesian.
    * DuckDB spells the same predicate IS NOT DISTINCT FROM. */
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Seq(
      (Option("O"), "open"), (Option("F"), "finished"),
      (Option.empty[String], "pending_null")).toDF("k", "bucket")
    val o = table(spark, dir, "orders").select(
      when(col("o_orderstatus") === "P", lit(null).cast("string"))
        .otherwise(col("o_orderstatus")).as("ok"),
      col("o_totalprice"))
    o.join(broadcast(dim), o("ok") <=> dim("k"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), dsumR(col("o_totalprice"), Money).as("sum_price"))
      .orderBy("bucket")
  }

  /** Co-located join through BUCKETED table layout — the recurring
    * fact-to-fact join's 100 TB fast path: both sides written
    * `bucketBy(join key)` ([[graft.sources.TableSinks.writeBucketed]]),
    * so the bucket layout already satisfies the join's required
    * distribution and the join runs with NO exchange on either side
    * (asserted with broadcast disabled in SourcesSpec; at warehouse
    * scale this deletes the dominant cost — the shuffle — of every
    * repeat join on the same key). The bucketed write is part of the
    * query (layout is an operator, the `pipe_partition_prune`
    * discipline), write-once per input content ([[CorpusScope.persisted]],
    * which names the tables so concurrent scale factors can't collide).
    * The bucketed tables hold the recurring join's WORKING SET — the
    * 1996 ship-year slice — not the whole history: bucketing pays off on
    * the partition you join repeatedly, and the slice keeps the declared
    * query's layout cost proportional to it. Result gated against the
    * plain-join oracle with the identical filter — bucketing must be
    * invisible to semantics. */
  def joinBucketedColocated(spark: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = CorpusScope.persisted("bucketedJoin", spark, dir,
        "orders", "lineitem") { a =>
      val (ot, lt) = (a.table("g_bk_orders_"), a.table("g_bk_lines_"))
      val lo = to_timestamp_ntz(lit("1996-01-01 00:00:00"))
      val hi = to_timestamp_ntz(lit("1997-01-01 00:00:00"))
      // The two table writes are independent jobs — run them from two
      // driver threads so their stages overlap (the standard concurrent-
      // jobs idiom; each write is still a normal distributed job).
      // Capture the side thread's failure and rethrow after join() — a
      // bare Thread swallows exceptions, and a silently-failed write
      // would surface later as a confusing TABLE_OR_VIEW_NOT_FOUND.
      val ordersFailure =
        new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val ordersWrite = new Thread(() =>
        try graft.sources.TableSinks.writeBucketed(
          table(spark, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus")), ot, "o_orderkey", 8)
        catch { case t: Throwable => ordersFailure.set(t) })
      ordersWrite.start()
      // try/finally: if THIS write throws, the side thread must still be
      // joined before propagating — otherwise a retry's orphan-dir cleanup
      // could delete the directory the still-running thread writes into
      try graft.sources.TableSinks.writeBucketed(
        table(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        lt, "l_orderkey", 8)
      finally ordersWrite.join()
      if (ordersFailure.get() != null) throw ordersFailure.get()
      (ot, lt)
    }
    spark.table(ot)
      .join(spark.table(lt),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum((col("l_extendedprice").cast(Money) * oneMinus(col("l_discount"))))
          .cast("double"), 4).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** lead() — lag's forward twin ([[windowLagDelta]] covers the backward
    * offset): next event's type, value delta, and exact µs gap per user.
    * Same single per-user window sort serves all three lead expressions;
    * the gap stays in integer µs (`unix_micros`) so both engines compare
    * exact longs instead of boundary-crossing date_diff semantics. */
  def windowLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    table(spark, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        round(lead(col("value"), 1).over(w) - col("value"), 4).as("next_delta"),
        (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
          .as("gap_us"))
      .orderBy("event_id")
  }

  /** Robust outliers via MEDIAN ABSOLUTE DEVIATION — the
    * outlier-resistant complement to `events_zscore_outliers`: mean/σ
    * are themselves dragged by the outliers they hunt, while
    * median/MAD are breakdown-point-0.5 robust (the standard 3·1.4826·MAD
    * fence, 1.4826 = consistency constant for normal data). Two exact
    * per-type medians (value, then |value − med|), each a tiny per-type
    * aggregate that BROADCASTS back over the stream; classification is
    * per-row math. Exact `percentile` holds a per-group multiset — the
    * gateable semantics here; at 100 TB swap the same shape onto
    * `approx_percentile` (the `agg_percentile_approx` path). */
  /** EWMA smoothing per user — the sequential-state computation (s_t =
    * α·x_t + (1−α)·s_{t−1}, α = 0.25, seeded s_1 = x_1) that windows
    * cannot express and naive pow-based reformulations get wrong in
    * floating point. Shape: per-user values are gathered ORDERED into one
    * array (per-KEY state, the `mapGroups`/pandas-groupby memory model —
    * bounded by a user's history, never by the corpus; the streaming twin
    * is `flatMapGroupsWithState` carrying just `s`), then the fold runs
    * as a codegen'd `aggregate` HOF — sequential state lives inside a
    * row, the [[graft.functions.BpeMergeOnce]] discipline. Each step is
    * r6-quantized, so the fold is replayed bit-identically by DuckDB's
    * first-element-seeded `list_reduce`. */
  def eventsEwma(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_id"), col("value"))
    e.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value"), Qty).as("sumv"),
        array_sort(collect_list(struct(col("t_us"), col("event_id"), col("value"))))
          .as("seq"))
      .withColumn("vals", transform(col("seq"), s => s.getField("value")))
      .withColumn("ewma_last",
        aggregate(
          slice(col("vals"), lit(2), greatest(size(col("vals")) - 1, lit(0))),
          element_at(col("vals"), 1),
          (acc, x) => r6(acc * lit(0.75) + x * lit(0.25))))
      .select(col("user_id"), col("n_events"),
        r6(col("ewma_last")).as("ewma_last"),
        r6(col("sumv").cast("double") / col("n_events").cast("double")).as("mean_value"))
      .orderBy("user_id")
  }

  /** Holt double-exponential smoothing + 7-day forecast of daily purchase
    * revenue — [[eventsEwma]]'s level-only recursion extended with a
    * TREND state (l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1});
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}; α=0.5, β=0.25; seeded l₁=y₁,
    * b₁=y₂−y₁ — the classic init). Shape: the daily series comes from
    * one map-side-combined hash agg (exact decimal sums), then the whole
    * recursion runs inside ONE row as a codegen'd `aggregate` fold over
    * the calendar-bounded day array (30 days at sf0.01; years of days is
    * still thousands of elements — never corpus-sized). Each step is
    * r6-quantized so DuckDB's `list_reduce` replays it bit-identically;
    * the two-state fold packs (level, trend) into a struct (a 2-list on
    * the DuckDB side, where the accumulator must share the element
    * type). Forecast h steps out is the linear extrapolation l + h·b. */
  /** Daily purchase revenue gathered into ONE row — the shared front of
    * the Holt family: (days, vals) sorted by day, exact decimal sums. */
  private def holtDailySeries(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(dateS(col("ts")).as("d"))
      .agg(dsum(col("value"), Qty).as("y"))
      .agg(array_sort(collect_list(struct(col("d"), col("y")))).as("seq"))
      .select(transform(col("seq"), s => s.getField("d")).as("days"),
        transform(col("seq"), s => s.getField("y")).as("vals"))

  /** The α=0.5 / β=0.25 r6-quantized Holt fold over the series PREFIX
    * that excludes the last `holdout` elements — ONE definition shared
    * by the forecast (holdout 0) and the backtest (holdout 7), so the
    * recursion's spelling cannot drift between them. Seeds l₁ = y₁,
    * b₁ = y₂ − y₁ from the prefix's first two elements. */
  private def holtFoldCol(vals: Column, holdout: Int): Column =
    aggregate(
      slice(vals, lit(3), greatest(size(vals) - lit(2 + holdout), lit(0))),
      struct(
        element_at(vals, 1).as("l"),
        (element_at(vals, 2) - element_at(vals, 1)).as("b")),
      (acc, x) => {
        val l = acc.getField("l"); val b = acc.getField("b")
        val lNew = r6(lit(0.5) * x + lit(0.5) * (l + b))
        struct(lNew.as("l"),
          r6(lit(0.25) * (lNew - l) + lit(0.75) * b).as("b"))
      })

  def eventsHoltForecast(spark: SparkSession, dir: String): DataFrame =
    holtDailySeries(spark, dir)
      .filter(size(col("vals")) >= 2)
      .select(size(col("vals")).cast("long").as("n_days"),
        holtFoldCol(col("vals"), 0).as("st"))
      .select(col("n_days"), explode(sequence(lit(1L), lit(7L))).as("h"),
        col("st.l").as("level"), col("st.b").as("trend"))
      .select(col("h"), col("n_days"), r6(col("level")).as("level"),
        r6(col("trend")).as("trend"),
        r4(col("level") + col("h").cast("double") * col("trend")).as("yhat"))
      .orderBy("h")

  /** Forecast BACKTEST — the eval twin [[eventsHoltForecast]] needs
    * (`simsearch_recall_eval`'s discipline applied to forecasting, the
    * "measure, don't guess" rule): hold out the last 7 days, fit Holt on
    * the prefix with the identical fold, score each held-out day
    * against its h-step linear forecast. Same single-row fold shape —
    * the holdout split is array slicing inside the one gathered row, so
    * the backtest costs one extra projection over the forecast query,
    * not a second pass. Output per horizon: day, actual, predicted,
    * absolute error. */
  def eventsForecastBacktest(spark: SparkSession, dir: String): DataFrame =
    holtDailySeries(spark, dir)
      .filter(size(col("vals")) >= 10)
      .select(col("days"), col("vals"), size(col("vals")).as("n"),
        holtFoldCol(col("vals"), 7).as("st"))
      .select(explode(sequence(lit(1L), lit(7L))).as("h"), col("days"),
        col("vals"), col("n"), col("st.l").as("level"), col("st.b").as("trend"))
      .select(col("h"),
        element_at(col("days"), (col("n") - 7 + col("h")).cast("int")).as("day"),
        element_at(col("vals"), (col("n") - 7 + col("h")).cast("int")).as("actual"),
        r4(col("level") + col("h").cast("double") * col("trend")).as("yhat"))
      .withColumn("abs_err", r4(abs(col("actual") - col("yhat"))))
      .orderBy("h")

  def eventsMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events").select(col("event_type"), col("value"))
    val med = e.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        r4(min(col("med"))).as("med"),
        r4(min(col("mad"))).as("mad"),
        sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** PATH MINING — the corpus-wide top-10 per-user event-type trigrams
    * (behavioral sequences, the n-gram idea applied to event streams:
    * "view→view→click happens 12k times across 900 users"). Both leads
    * ride ONE (user, ts, event_id) window sort; trigram counting is a
    * map-side-combined hash agg over the tiny (type³) key space; the
    * top-10 is a (count, path) total order + LIMIT — at any scale the
    * only full-data costs are one per-user sort and one partial-agg
    * shuffle of trigram keys. */
  def eventsPathTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    table(spark, dir, "events")
      .select(col("user_id"),
        col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .filter(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(desc("n"), col("t1"), col("t2"), col("t3"))
      .limit(10)
  }

  /** First-order Markov transition matrix over per-user event sequences —
    * the behavioral-model summary a path analysis starts from: for every
    * (from, to) event-type pair, the transition count and P(to | from).
    * One per-user window sort produces the successor column; counting is
    * a map-side-combined hash agg over the type² key space (≤ 25 rows
    * here, bounded by the type vocabulary at any corpus size); the
    * per-from denominator joins back over that bounded summary, never
    * the raw stream. P is exact-integer division rounded r4 — identical
    * IEEE math in both engines. */
  def eventsMarkov(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = table(spark, dir, "events")
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    trans.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        r4(col("n").cast("double") / col("n_from").cast("double")).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Batch sessionization — the gap-rule session assignment every
    * product-analytics pipeline starts from (the batch twin of
    * [[graft.ops.StreamingModel]]'s `stream_session_gap`): a >30-minute
    * silence starts a new session. Session ids come from the standard
    * two-window composition — lag to flag session starts, running sum to
    * number them — both over the SAME (user_id, ts, event_id) window, so
    * the plan sorts each user's slice once and evaluates both functions
    * in one Window exec; the two follow-up aggregations reuse the
    * window's hash partitioning on user_id (zero extra exchanges).
    * Per-user state is bounded by that user's event count, never by the
    * stream length — the shape that scales to any user population.
    * Timestamps compare as exact epoch-µs longs (no double rounding on
    * the gap boundary); output is one bounded rollup row per user. */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    val prev = lag(col("us"), 1).over(w)
    val sess = table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_s",
        when(prev.isNull || (col("us") - prev) > gapUs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "sess_idx")
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("dur_us"),
        sum(col("value").cast(Qty)).as("val_d"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_sess_events"),
        sum(col("dur_us")).as("total_dur_us"),
        round(sum(col("val_d")).cast("double"), 4).as("sum_value"))
      .orderBy("user_id")
  }

  /** Behavioral diversity: Shannon entropy of each user's event-TYPE
    * distribution — the bot/script detector (a user who only ever fires
    * one event type scores 0; uniform usage scores log2(#types)). The
    * aggregation twin of the per-row `char_entropy` expression, same
    * H = log2(n) − Σ k·log2(k)/n form: two map-side-partial hash aggs
    * ((user, type) counts → per-user fold), no explode, no window. The
    * Σ terms are r6-rounded then summed as exact DECIMAL — a raw double
    * sum across partitions would be order-nondeterministic (the
    * text_lang_stats precedent). */
  def eventsUserEntropy(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    table(spark, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("k"))
      .groupBy("user_id")
      .agg(sum(col("k")).as("n"), count(lit(1)).as("n_types"),
        sum(r6(col("k").cast("double") * log2(col("k").cast("double")))
          .cast(dec)).as("s"))
      .select(col("user_id"), col("n").cast("long").as("n"), col("n_types"),
        r4(log2(col("n").cast("double"))
          - col("s").cast("double") / col("n").cast("double")).as("type_entropy"))
      .orderBy("user_id")
  }

  /** Month-over-month growth — the reporting delta: monthly revenue with
    * absolute and percent change vs the previous month. The lag window
    * runs over the MONTHLY aggregate (tens of rows — the corpus is
    * reduced before any window exists), so the only corpus-sized work is
    * one hash agg; the unpartitioned lag over the month summary is the
    * blessed aggregate-input shape. First month's deltas are null, not
    * zero — absence of a prior period is not zero growth. */
  def aggMomGrowth(spark: SparkSession, dir: String): DataFrame = {
    val monthly = table(spark, dir, "orders")
      .groupBy(date_format(col("o_orderdate").cast("timestamp"), "yyyy-MM").as("month"))
      .agg(dsum(col("o_totalprice"), Money).as("rev"), count(lit(1)).as("n"))
    val w = Window.orderBy("month")
    monthly
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("month"), round(col("rev"), 4).as("revenue"), col("n"),
        round(col("rev") - col("prev"), 4).as("delta"),
        r4((col("rev") - col("prev")) / col("prev")).as("growth"))
      .orderBy("month")
  }

  /** RFM segmentation — recency / frequency / monetary quintile scores
    * per purchasing user, the classic marketing-analytics rollup. One
    * hash agg per user builds the three metrics; scoring compares each
    * metric against its BROADCAST exact-quintile boundaries
    * (score = 1 + #boundaries exceeded) instead of a global ntile —
    * ntile over the user summary would be a single-task sort of #users
    * rows, while boundary scoring is a per-row map against 4 broadcast
    * doubles (quantile-bucket semantics rather than ntile's equal-count
    * tie splitting, deterministic on both engines). Recency anchors to
    * the corpus max ts (one-row broadcast), not wall-clock, so the
    * result is reproducible. At 100 TB swap the exact boundary
    * percentiles for `approx_percentile` (`agg_percentile_approx`). */
  def eventsRfm(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
    val anchor = p.agg(max(col("us")).as("max_us"))
    val perUser = p.groupBy("user_id")
      .agg(max(col("us")).as("last_us"), count(lit(1)).as("f"),
        dsum(col("value"), Qty).as("m"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"),
        ((col("max_us") - col("last_us")) / lit(86400000000L)).cast("long")
          .as("r_days"),
        col("f"), col("m"))
    val qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    // Boundaries are r6-rounded on BOTH engines before the strict->
    // comparison: Spark percentile and DuckDB quantile_cont interpolate
    // in different op orders, and a metric value tying a boundary whose
    // interpolations differ by one ulp would flip a score
    // nondeterministically. On the 1e-6 grid both engines agree.
    val bounds = perUser.agg(
      expr(s"percentile(r_days, $qs)").as("rb0"),
      expr(s"percentile(f, $qs)").as("fb0"),
      expr(s"percentile(m, $qs)").as("mb0"))
      .select(
        transform(col("rb0"), b => r6(b)).as("rb"),
        transform(col("fb0"), b => r6(b)).as("fb"),
        transform(col("mb0"), b => r6(b)).as("mb"))
    def score(v: Column, bs: Column): Column =
      (lit(1) + aggregate(bs, lit(0),
        (acc, b) => acc + when(v.cast("double") > b, 1).otherwise(0))).cast("long")
    perUser.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("r_days"), col("f"), round(col("m"), 4).as("m"),
        score(col("r_days"), col("rb")).as("r_score"),
        score(col("f"), col("fb")).as("f_score"),
        score(col("m"), col("mb")).as("m_score"))
      .withColumn("rfm",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .orderBy("user_id")
  }

  /** Funnel drop-off: clicks with NO purchase by the same user within
    * the following hour — the anti-join-with-time-bound shape (the
    * batch model of a stream-stream LEFT ANTI join, whose state the
    * time bound is what makes evictable). The equi key (user) carries
    * the one shuffle; the range condition rides as the anti residual —
    * never a pair space. Rolled up per click day against total clicks,
    * so the output is the daily conversion-gap report. */
  def eventsUnconvertedClicks(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val c = ev.filter(col("event_type") === "click").select(
      col("user_id"), unix_micros(col("ts")).as("c_us"),
      to_date(col("ts")).as("day"))
    val p = ev.filter(col("event_type") === "purchase").select(
      col("user_id").as("p_uid"), unix_micros(col("ts")).as("p_us"))
    val unconv = c.join(p,
        col("user_id") === col("p_uid") &&
          col("p_us") >= col("c_us") && col("p_us") <= col("c_us") + 3600000000L,
        "left_anti")
      .groupBy("day").agg(count(lit(1)).as("n_unconverted"))
    c.groupBy("day").agg(count(lit(1)).as("n_clicks"))
      .join(unconv, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_clicks"),
        coalesce(col("n_unconverted"), lit(0L)).as("n_unconverted"),
        r4(coalesce(col("n_unconverted"), lit(0L)).cast("double")
          / col("n_clicks").cast("double")).as("drop_rate"))
      .orderBy("day")
  }

  /** Peak concurrency per day — the sweep-line max-overlap operator
    * (capacity planning: "how many sessions were open at once?").
    * Sessions are the 30-min-gap user sessions (same construction as
    * [[eventsSessionize]]), assigned to their START day; each becomes a
    * +1 point at its start and a −1 at its end + 1 µs (end-exclusive
    * overlap), and a per-day ordered running sum's maximum is the peak.
    * Tie order (t, delta) processes ends before starts at the same
    * instant, and the peak is tie-permutation invariant (equal-sign run
    * maxima don't depend on intra-tie order), so the result is
    * deterministic. Scale: the sweep partitions by DAY — state bounded
    * by one day's session count; an extreme hot day sub-buckets by hour
    * with the two-level prefix pattern (`pipe_token_budget_sample`). */
  def eventsPeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val e = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
    val sess = e
      .withColumn("new_s",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
    val day = to_date(timestamp_micros(col("s_us"))).as("day")
    val pts = sess.select(day, col("s_us").as("t"), lit(1L).as("delta"))
      .unionByName(sess.select(day, (col("e_us") + 1L).as("t"), lit(-1L).as("delta")))
    val sw = Window.partitionBy("day").orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.withColumn("cur", sum(col("delta")).over(sw))
      .groupBy("day")
      .agg(
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_sessions"),
        max(col("cur")).as("peak"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_sessions"), col("peak"))
      .orderBy("day")
  }

  /** Gaps-and-islands: each user's runs of CONSECUTIVE same-type events
    * (change-flag + running sum to number the islands — the classic
    * trick), rolled up to run count, longest-run length, and the longest
    * run's type (ties to the greater type via a struct argmax, mirrored
    * by the oracle's rank). Both window passes share one (user, time,
    * id) ordering so the plan sorts each user's slice once; the two
    * follow-up aggregations reuse the hash partitioning on user_id.
    * State per key is bounded by that user's history — the same memory
    * model as [[eventsSessionize]], which is this op keyed on value
    * change instead of time gap. */
  def eventsStreaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("event_id"))
    val e = table(spark, dir, "events").select(
      col("user_id"), unix_micros(col("ts")).as("t_us"),
      col("event_id"), col("event_type"))
    val prev = lag(col("event_type"), 1).over(w)
    val runs = e
      .withColumn("chg", when(prev.isNull || prev =!= col("event_type"), 1).otherwise(0))
      .withColumn("grp",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("grp"), col("event_type"))
      .agg(count(lit(1)).as("len"))
    runs.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_runs"),
        max(struct(col("len"), col("event_type"))).as("best"))
      .select(col("user_id"), col("n_runs"),
        col("best.len").as("max_len"), col("best.event_type").as("top_type"))
      .orderBy("user_id")
  }

  /** Regex pattern matching over each user's ORDERED event-type sequence
    * — the MATCH_RECOGNIZE shape: encode the per-user history as a
    * one-char-per-event path string (c/e/p/s/v) and count non-overlapping
    * `cv*p` conversions (click, any views, purchase) with a single
    * regexp pass. The path is built via the engine's ordered-gather
    * idiom ([[eventsEwma]]): array_sort(collect_list(struct(ts, id,
    * ch))) — per-KEY state bounded by one user's history, never the
    * stream, then the match itself is per-row. `cv*p` is deterministic
    * (single-char alternatives, no ambiguity), so Java and RE2-style
    * engines agree on match count exactly. The streaming twin is
    * flatMapGroupsWithState accumulating the tail of the path per key. */
  def eventsSequenceMatch(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events").select(
      col("user_id"), unix_micros(col("ts")).as("t_us"), col("event_id"),
      substring(col("event_type"), 1, 1).as("ch"))
    e.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("t_us"), col("event_id"), col("ch"))))
        .as("seq"))
      .withColumn("path", concat_ws("", transform(col("seq"), s => s.getField("ch"))))
      .select(col("user_id"),
        length(col("path")).cast("long").as("n_events"),
        size(regexp_extract_all(col("path"), lit("cv*p"), lit(0)))
          .cast("long").as("n_conversions"),
        (instr(col("path"), "e") > 0).as("saw_error"),
        substring(col("path"), 1, 20).as("path_head"))
      .orderBy("user_id")
  }

  /** Ordered funnel over the event stream — view → click → purchase per
    * user, each step's timestamp the EARLIEST occurrence strictly after
    * the previous step (sequence analytics, not just per-type counts: the
    * order constraint is what FILTER-clause aggregates can't express).
    * Three filtered passes, each aggregated per user BEFORE its join, and
    * every join key is user_id — co-partitioned end to end, so at scale
    * the exchanges reuse one hash partitioning. A user with no 'view'
    * never enters the funnel; later steps left-join so depth counts
    * partial funnels. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events").select(
      col("user_id"), col("event_type"), col("ts"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(
        col("user_id"),
        tsS(col("t1")).as("t1_s"),
        tsS(col("t2")).as("t2_s"),
        tsS(col("t3")).as("t3_s"),
        (lit(1)
          + when(col("t2").isNotNull, 1).otherwise(0)
          + when(col("t3").isNotNull, 1).otherwise(0)).cast("long").as("depth"))
      .orderBy("user_id")
  }

  /** Time-series resample + forward fill: a daily grid per user (gap
    * filling via `sequence` + explode — rows that never existed) with the
    * last-seen event value carried forward (`last(..., ignoreNulls)` over
    * grid∪events, events sorting before grid points at equal instants).
    * Grid rows per user = span/step — bounded by the CHOSEN resolution,
    * not the event volume, which is what makes resampling safe at 100 TB;
    * the window is per-user partitioned. Events are pre-aggregated per
    * (user, instant) with an event_id argmax so simultaneous events can't
    * make the fill nondeterministic. */
  def eventsResampleFfill(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("value"))
    val grid = e.groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(col("user_id"),
        explode(sequence(date_trunc("day", col("t0")), date_trunc("day", col("t1")),
          expr("interval 1 day"))).as("t"))
    val unioned = e.select(col("user_id"), col("ts").as("t"),
        lit(0).as("mk"), col("value"))
      .unionByName(grid.select(col("user_id"), col("t"),
        lit(1).as("mk"), lit(null).cast("double").as("value")))
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("mk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("v", last(col("value"), ignoreNulls = true).over(w))
      .withColumn("n_seen", count(col("value")).over(w))
      .filter(col("mk") === 1)
      .select(col("user_id"), dateS(col("t")).as("grid_date"), col("v"), col("n_seen"))
      .orderBy("user_id", "grid_date")
  }

  /** Cohort retention matrix — the standard product-analytics rollup:
    * users are cohorted by first-seen day, then counted per (cohort,
    * day-offset). Two hash aggregations and one equi join, all keyed on
    * user_id / (user_id, day) — no window, no per-user state, so the
    * whole thing is shuffle-parallel at any user count; the output is
    * bounded by cohorts × horizon regardless of event volume. */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val active = ev.distinct()
    val cohort = active.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    active.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day").cast("date"), col("cohort_day").cast("date"))
          .cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(dateS(col("cohort_day")).as("cohort_date"), col("day_offset"),
        col("n_users"))
      .orderBy("cohort_date", "day_offset")
  }

  /** Correlation / covariance / regression slope per group, computed from
    * EXACT decimal power sums (n, Σx, Σy, Σxy, Σx², Σy² — the inputs are
    * 2-decimal, so every product is an exact 4-decimal value and the sums
    * are order-independent), with the closed-form formulas evaluated in
    * double at the end. Built-in `corr()` accumulates doubles in shuffle
    * order — nondeterministic across engines AND across retries; this
    * spelling is one hash agg with the same cost and a deterministic
    * answer, which is how a 100 TB engine should do second-moment stats. */
  def aggCorrRegression(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast(Qty)
    val y = col("l_extendedprice").cast(Money)
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("nd"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"))
      .select(
        col("l_returnflag"), col("nd").cast("long").as("n"),
        r4((col("nd") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("nd") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("nd") * col("syy") - col("sy") * col("sy"))))
          .as("corr_qty_price"),
        r4((col("sxy") - col("sx") * col("sy") / col("nd")) / col("nd"))
          .as("covar_pop"),
        r4((col("nd") * col("sxy") - col("sx") * col("sy"))
          / (col("nd") * col("sxx") - col("sx") * col("sx")))
          .as("regr_slope"))
      .orderBy("l_returnflag")
  }

  /** Mode (most frequent value) per group with a deterministic tie-break
    * — highest count first, lexicographically smallest value on ties.
    * Two-level shape: the count agg collapses the input to (group, value)
    * cardinality BEFORE the ranking window, so the window's input is
    * bounded by distinct combinations, never by row count — the same
    * bounded-aggregate-then-window rule PlanSpec enforces engine-wide. */
  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    val counts = table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(desc("n"), col("o_orderpriority"))
    counts
      .withColumn("share", r4(col("n").cast("double")
        / sum(col("n")).over(Window.partitionBy("o_orderstatus")).cast("double")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("n"), col("share"))
      .orderBy("o_orderstatus")
  }

  /** Per-user z-score anomaly detection over the event stream — the
    * monitoring-side filter of a data pipeline (flag events far from the
    * emitter's own baseline). Per-user mean/variance come from EXACT
    * decimal power sums (same determinism argument as
    * [[aggCorrRegression]]), events join their user's stats on user_id
    * (one co-partitioned equi join, no window over raw events), and the
    * cut applies to the r4-ROUNDED |z| so both engines keep the same
    * rows. Constant-valued users (σ² = 0) are excluded by an explicit
    * variance guard — their z is NULL, which fails the |z| predicate in
    * both engines (and ANSI Spark would otherwise raise on the zero
    * divisor rather than produce a NaN). */
  def eventsZscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val stats = e.groupBy("user_id").agg(
        count(lit(1)).cast("double").as("nd"),
        sum(col("value").cast(Qty)).cast("double").as("s"),
        sum(col("value").cast(Qty) * col("value").cast(Qty)).cast("double").as("ss"))
      .select(col("user_id"), (col("s") / col("nd")).as("mean"),
        (col("ss") / col("nd") - (col("s") / col("nd")) * (col("s") / col("nd")))
          .as("vr"))
    e.join(stats, "user_id")
      .withColumn("z", when(col("vr") > 0,
        r4((col("value") - col("mean")) / sqrt(col("vr")))))
      .filter(abs(col("z")) >= 2.0)
      .select(col("event_id"), col("user_id"), col("value"), col("z"))
      .orderBy("event_id")
  }

  /** Last-touch attribution — for every `purchase`, the most recent prior
    * `click` by the same user, attributed only within a 24 h lookback:
    * the standard marketing/events transform (and the windowed sibling of
    * [[joinAsofEventOrder]] — same "latest prior" semantics, but within
    * one stream instead of across two tables). Shape at scale: ONE
    * (user_id, ts) sort serves both running `last(…, ignoreNulls)`
    * windows — no self-join, no per-purchase scan-back, cost independent
    * of the lookback width. The gap is computed in exact integer
    * MICROSECONDS on both engines (µs since epoch, integer-divided to
    * seconds) — engine-native second-diff functions disagree on
    * boundary-crossing vs truncation semantics. */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    table(spark, dir, "events")
      // both window expressions in ONE projection so they fuse into a
      // single Window exec over the shared (user_id, ts) sort
      .select(col("*"),
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true)
          .over(w).as("click_ts"),
        last(when(col("event_type") === "click", col("event_id")),
          ignoreNulls = true).over(w).as("click_id"))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_s",
        expr("(unix_micros(ts) - unix_micros(click_ts)) div 1000000"))
      .select(col("event_id"), col("user_id"), tsS(col("ts")).as("ts_s"),
        when(col("gap_s") <= 86400L, col("click_id")).as("attrib_click_id"),
        when(col("gap_s") <= 86400L, col("gap_s")).as("gap_s"))
      .orderBy("event_id")
  }

  /** Runtime bloom-filter join — the 100 TB shuffle-join shape where the
    * probe side is orders of magnitude larger than the (already filtered)
    * build side: Catalyst's InjectRuntimeFilter plants a
    * `BloomFilterAggregate` over the filtered orders keys and a
    * `might_contain` predicate on the lineitem scan, so probe rows that
    * cannot match are dropped BEFORE the shuffle — at scale that converts
    * a full-table shuffle into a ~selectivity-sized one. The result is
    * byte-identical to the plain join (bloom false positives are removed
    * by the exact join), so the oracle is the plain join — the bloom is a
    * transparent physical optimization, asserted present in PlanSpec.
    * Conf scoping: the thresholds that let the sf0.01 fixture trigger the
    * rewrite (application-side ≥10 GB by default) live on a child session
    * ([[bloomSession]]), so no other query's plan is perturbed; broadcast
    * is disabled there because the runtime filter targets shuffle joins
    * (a broadcast join already prunes at the probe). */
  def joinBloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val s = bloomSession(spark)
    val hot = table(s, dir, "orders")
      .filter(col("o_totalprice") > 449000.0)
    table(s, dir, "lineitem")
      .join(hot, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        dsumR(col("l_extendedprice"), Money).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** [[joinBloomPrefilter]]'s child session (same SparkContext, own
    * conf), built once per parent session, so its table memo is reused. */
  private def bloomSession(spark: SparkSession): SparkSession =
    CorpusScope.cached("bloomSession",
        org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s
    }

  /** Seasonal-naive baseline — the first forecasting sanity check on any
    * event stream: today's daily total vs the total exactly 7 days back
    * (same weekday), delta and ratio per day. Daily totals are one
    * map-side-partial hash agg (the only pass over the raw events); the
    * lag-7 lookup is a self equi join on the ~date-cardinality aggregate,
    * so at 100 TB the join input is days, not events — deliberately a
    * date-shifted equi join, not a 7-row window lag, because a window
    * needs a dense calendar to mean "7 days" while `d = bd + 7` is
    * correct on sparse dates by construction. */
  def eventsSeasonalBaseline(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), Qty).as("v"))
    val base = daily.select(col("d").as("bd"), col("n").as("base_n"),
      col("v").as("base_v"))
    daily.join(base, col("d") === date_add(col("bd"), 7))
      .select(dateS(col("d")).as("day_s"), col("n"), col("base_n"),
        (col("n") - col("base_n")).as("delta_n"),
        r4(col("n").cast("double") / col("base_n").cast("double")).as("ratio_n"),
        round(col("v") - col("base_v"), 2).as("delta_v"))
      .orderBy("day_s")
  }

  /** CUSUM mean-shift detection over each event type's daily volume —
    * the page-one ops question ("did traffic structurally change, and
    * when?") answered with the standard control-chart statistic (Page
    * 1954): one-sided CUSUM s_i = max(0, s_{i−1} + z_i) with slack k =
    * 0.5σ, alarm at h = 4.
    *
    * The recursive fold is deliberately NOT a sequential per-key loop:
    * s_i ≡ S_i − min(0, min_{j≤i} S_j) for prefix sums S of z — so the
    * whole statistic is two stock window functions (running sum + running
    * min) sharing ONE per-type day-ordered sort over the ~#days-row DAILY
    * aggregate, never the raw events (which reduce in the first map-side
    * hash agg). Cross-engine determinism by construction: μ and σ derive
    * from integer power sums, z is r6-quantized then summed as
    * DECIMAL(20,6) — exact, associative, and therefore immune to the
    * engines' different windowed-sum association orders (DuckDB segment
    * tree vs Spark running accumulation), the same discipline as the
    * engine's other decimal sums. Types whose daily volume never varies
    * (σ = 0) are excluded by the same HAVING on both engines. */
  def eventsCusumShift(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 6)
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("sx"),
        sum(col("n") * col("n")).as("sxx"))
      .withColumn("mu", col("sx").cast("double") / col("nd").cast("double"))
      .withColumn("sigma", sqrt(
        (col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")
            / col("nd").cast("double")) / col("nd").cast("double")))
      .filter(col("sigma") > 0)
      .select(col("event_type"), col("mu"), col("sigma"))
    val z = daily.join(broadcast(stats), "event_type")
      .withColumn("z",
        r6((col("n").cast("double") - col("mu") - lit(0.5) * col("sigma"))
          / col("sigma")).cast(dec))
    val w = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = z
      .withColumn("ps", sum(col("z")).over(w))
      .withColumn("min_ps", min(col("ps")).over(w))
      .withColumn("cusum", col("ps") - least(lit(0).cast(dec), col("min_ps")))
    c.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        r4(max(col("cusum")).cast("double")).as("max_cusum"),
        sum(when(col("cusum") > 4, 1L).otherwise(0L)).as("n_alarm_days"),
        min(when(col("cusum") > 4, col("d"))).as("fa"))
      .select(col("event_type"), col("n_days"), col("max_cusum"),
        col("n_alarm_days"), dateS(col("fa")).as("first_alarm_day"))
      .orderBy("event_type")
  }

  /** Gap-based sessionization through Spark's BUILT-IN `session_window`
    * — the same 30-minute-gap semantics as [[eventsSessionize]]'s manual
    * lag/cumsum spelling, but through the engine primitive that also
    * powers streaming session aggregation (one groupBy, no explicit
    * window functions: the session assignment happens inside the
    * aggregation's merging buffers). Two deliberate semantic pins, both
    * replayed by the oracle: sessions merge on STRICT overlap (a gap of
    * exactly 30 min starts a NEW session — `session_window` windows are
    * half-open [t, t+gap)), and each session's span is
    * (last − first) + gap (the window end extends gap past the last
    * event). Scale: one hash shuffle on user_id; per-group state is the
    * open session set, merged map-side — the batch twin of the
    * streaming state machine. */
  def aggSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val sess = table(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        (unix_micros(col("w.end")) - unix_micros(col("w.start"))).as("span_us"))
    sess.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_sess_events"),
        sum(col("span_us")).as("total_span_us"))
      .orderBy("user_id")
  }

  /** DAU / WAU / stickiness — the activity dashboard's first row: daily
    * distinct actives, trailing-7-day distinct actives, and their ratio.
    * COUNT(DISTINCT) over a sliding RANGE window is unsupported (and
    * would be quadratic anyway), so the spelling is the scale-correct
    * one: the corpus collapses ONCE to distinct (day, user) pairs (the
    * only pass over raw events, map-side combined); each pair then
    * fans out to the ≤ 7 window-END days it supports
    * (`explode(sequence(d, d+6))` — bounded 7× growth of the already-
    * tiny pair set, nothing corpus-sized), and WAU is a plain
    * count-distinct per window day. At extreme user counts the same
    * shape swaps the distinct for per-day HLL sketches unioned across
    * the window (`agg_sketch_union`'s path) — documented trade.
    * Stickiness divides two exact ints, so r4 is ulp-safe. */
  def eventsDauWau(spark: SparkSession, dir: String): DataFrame = {
    val pairs = table(spark, dir, "events")
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val dau = pairs.groupBy("d").agg(count(lit(1)).as("dau"))
    val wau = pairs
      .select(col("user_id"), explode(expr("sequence(d, date_add(d, 6))")).as("w"))
      .distinct()
      .groupBy(col("w").as("d")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "d")
      .select(dateS(col("d")).as("day_s"), col("dau"), col("wau"),
        r4(col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
      .orderBy("day_s")
  }

  /** Cohort LTV triangle — [[eventsRetention]]'s revenue-weighted
    * sibling and the growth team's core table: users grouped by
    * first-seen week, purchase revenue per (cohort, week-offset) cell,
    * cumulative revenue along each cohort row, and per-user LTV
    * (cum ÷ cohort size). Shape at scale: one per-user min (map-side
    * partials) fixes the cohort; purchases reduce to the ≤ weeks²
    * triangle BEFORE the cumulative window runs (the window sees
    * aggregate cells, never raw events); both joins ride the user_id
    * partitioning. Exactness: revenue sums and the running cumulation
    * stay DECIMAL end to end (a double cumsum would be association-
    * order-dependent), week offsets are exact integer day-diffs ÷ 7,
    * and LTV divides a decimal-derived double by an int. */
  def eventsCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val first = ev.groupBy("user_id")
      .agg(date_trunc("week", min(to_date(col("ts")))).cast("date").as("cw"))
    val cohortSize = first.groupBy("cw").agg(count(lit(1)).as("n_users"))
    val cells = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        date_trunc("week", to_date(col("ts"))).cast("date").as("w"),
        col("value"))
      .join(first, "user_id")
      .groupBy(col("cw"), (datediff(col("w"), col("cw")).cast("long") / 7)
        .cast("long").as("off"))
      .agg(sum(col("value").cast(Qty)).as("rev_d"))
    val wnd = Window.partitionBy("cw").orderBy("off")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_d", sum(col("rev_d")).over(wnd))
      .join(cohortSize, "cw")
      .select(dateS(col("cw")).as("cohort_week_s"), col("off"),
        col("n_users"),
        round(col("rev_d").cast("double"), 2).as("rev"),
        round(col("cum_d").cast("double"), 2).as("cum_rev"),
        r4(col("cum_d").cast("double") / col("n_users").cast("double")).as("ltv"))
      .orderBy("cohort_week_s", "off")
  }

  /** percent_rank / cume_dist as a CDF over the VALUE DISTRIBUTION, not
    * a per-row window: lineitem collapses once to (flag, qty) counts
    * (map-side combined), and the rank arithmetic runs over that ≤
    * |flags|·|distinct qty| aggregate. This is deliberately NOT
    * `percent_rank().over(...)` on raw rows — the partition key
    * (l_returnflag) has 3 values, so a per-row window would sort three
    * corpus-sized partitions on 3 tasks at 100 TB. percent_rank's tie
    * semantics ((rank−1)/(N−1) with rank = min rank of the tie group)
    * collapse exactly onto the aggregate: rank = cum − n + 1. All
    * counts are exact ints; the two ratios are single IEEE divisions,
    * r6-rounded on both engines. */
  def windowPercentRank(spark: SparkSession, dir: String): DataFrame = {
    val g = table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"), col("l_quantity").as("qty"))
      .agg(count(lit(1)).as("n"))
    val wc = Window.partitionBy("flag").orderBy("qty")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wN = Window.partitionBy("flag")
    g.withColumn("cum", sum(col("n")).over(wc))
      .withColumn("nt", sum(col("n")).over(wN))
      .select(col("flag"), col("qty").cast("double").as("qty"), col("n"),
        (col("cum") - col("n") + 1).as("rnk"),
        // single-row partition: percent_rank is DEFINED as 0 (no 0/0)
        when(col("nt") > 1, r6((col("cum") - col("n")).cast("double") /
          (col("nt") - 1).cast("double"))).otherwise(lit(0.0)).as("pr"),
        r6(col("cum").cast("double") / col("nt").cast("double")).as("cd"))
      .orderBy("flag", "qty")
  }

  /** Per-user inter-arrival statistics — the traffic-shape profile
    * (mean/max gap + Goh-Barabási burstiness (σ−μ)/(σ+μ)) that feeds
    * bot detection and session-gap tuning. One lag window rides the
    * user_id hash partitioning (arbitrary user cardinality — not a
    * low-cardinality key); everything after is a per-user aggregate
    * with map-side partials. Determinism under equal-ts ties: the gap
    * MULTISET is invariant to tie order (a tie contributes gap 0
    * either way), and every downstream stat is a symmetric aggregate.
    * Exactness: gaps are exact µs longs; Σg² goes through
    * DECIMAL (g ≈ 8.6e10 µs for a day-long gap squares past int64),
    * and the variance/burstiness arithmetic is the same IEEE ops on
    * both engines before r4. */
  def eventsInterarrivalStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    table(spark, dir, "events")
      .select(col("user_id"), col("ts"))
      .withColumn("g", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("g").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sum_g"),
        max(col("g")).as("max_gap_us"),
        sum(col("g").cast(d19) * col("g").cast(d19)).cast("double").as("sumsq"))
      .filter(col("n_gaps") >= 2)
      .withColumn("mean", col("sum_g").cast("double") / col("n_gaps").cast("double"))
      .withColumn("vr", greatest(
        col("sumsq") / col("n_gaps").cast("double") - col("mean") * col("mean"),
        lit(0.0)))
      .withColumn("sd", sqrt(col("vr")))
      .select(col("user_id"), col("n_gaps"), r4(col("mean")).as("mean_gap_us"),
        col("max_gap_us"),
        when(col("sd") + col("mean") > 0,
          r4((col("sd") - col("mean")) / (col("sd") + col("mean"))))
          .otherwise(lit(0.0)).as("burstiness"))
      .orderBy("user_id")
  }

  /** Survival curve over user lifetimes — the churn team's Kaplan-Meier
    * table in its censoring-free form: lifetime = days between a
    * user's first and last event, S(d) = fraction of users whose
    * lifetime reaches d. Shape at scale: one per-user min/max (map-side
    * partials) fixes lifetimes; counts collapse to the ≤ |days|
    * support points; the reverse-cumulative window runs over that
    * aggregate only (unpartitioned-over-aggregate, the sanctioned
    * form). All counts exact ints; S(d) is one IEEE division before
    * r6. */
  def eventsSurvivalCurve(spark: SparkSession, dir: String): DataFrame = {
    val lt = table(spark, dir, "events")
      .groupBy("user_id")
      .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
        .cast("long").as("lt_days"))
    val counts = lt.groupBy("lt_days").agg(count(lit(1)).as("n_ending"))
    val wAlive = Window.orderBy(col("lt_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.orderBy("lt_days")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("n_alive", sum(col("n_ending")).over(wAlive))
      .withColumn("nt", sum(col("n_ending")).over(wTot))
      .select(col("lt_days"), col("n_ending"), col("n_alive"),
        r6(col("n_alive").cast("double") / col("nt").cast("double")).as("survival"))
      .orderBy("lt_days")
  }

  /** Revenue concentration — exact Gini coefficient plus top-decile
    * share over per-user purchase revenue: the inequality summary
    * behind "how head-heavy is spend". Gini uses the rank-weighted
    * closed form G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending
    * (revenue, user_id) ranks. Shape at scale: events collapse once to
    * per-user revenue (map-side partials); the ranking window runs
    * over that per-user AGGREGATE — unavoidably a global sort, which
    * is the honest cost of an exact Gini (the approximate path at
    * extreme user counts is a quantile-sketch Lorenz curve; documented
    * trade, not taken). Exactness: revenue and the rank-weighted sum
    * stay DECIMAL (26,2)×(11,0) — inside both engines' 38-digit cap —
    * and the final Gini/share arithmetic is IEEE-identical before
    * r6. */
  def eventsGiniPareto(spark: SparkSession, dir: String): DataFrame = {
    val rev = table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(col("value").cast(Qty)).as("rev_d"))
    val wr = Window.orderBy(col("rev_d"), col("user_id"))
    val wf = Window.orderBy(col("rev_d"), col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = rev
      .withColumn("rn", row_number().over(wr))
      .withColumn("cnt", count(lit(1)).over(wf))
    ranked
      .groupBy(lit(1).as("one"))
      .agg(max(col("cnt")).as("n_users"),
        sum(col("rev_d")).cast("double").as("tot"),
        sum(col("rev_d").cast(org.apache.spark.sql.types.DecimalType(26, 2)) *
          col("rn").cast(org.apache.spark.sql.types.DecimalType(11, 0))).cast("double").as("wsum"),
        sum(when(col("rn") > col("cnt") - expr("cnt div 10"), col("rev_d")))
          .cast("double").as("top_rev"))
      .select(col("n_users"), round(col("tot"), 2).as("total_rev"),
        r6(lit(2.0) * col("wsum") / (col("n_users").cast("double") * col("tot")) -
          (col("n_users") + 1).cast("double") / col("n_users").cast("double")).as("gini"),
        r6(coalesce(col("top_rev"), lit(0.0)) / col("tot")).as("top10_share"))
  }

  /** Weighted median (and plain median) per return flag — the "half the
    * REVENUE sits below this quantity" statistic, which a plain
    * percentile cannot answer. Same CDF-over-the-value-distribution
    * shape as [[windowPercentRank]]: lineitem collapses once to
    * (flag, qty) weight/count cells (map-side combined), cumulative
    * windows run over that ≤ |flags|·|qtys| aggregate, and the median
    * is the first value whose cumulative reaches half the total (lower
    * median — no interpolation, so the comparison is exact
    * decimal/long arithmetic on both engines). */
  def aggWeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val g = table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"), col("l_quantity").as("qty"))
      .agg(sum(col("l_extendedprice").cast(Money)).as("w"),
        count(lit(1)).as("c"))
    val wc = Window.partitionBy("flag").orderBy("qty")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("flag")
    g.withColumn("cw", sum(col("w")).over(wc))
      .withColumn("cc", sum(col("c")).over(wc))
      .withColumn("tw", sum(col("w")).over(wf))
      .withColumn("tc", sum(col("c")).over(wf))
      .groupBy("flag")
      .agg(min(when(col("cw") * 2 >= col("tw"), col("qty"))).as("wmedian"),
        min(when(col("cc") * 2 >= col("tc"), col("qty"))).as("median"),
        max(col("tc")).as("n_rows"),
        round(max(col("tw")).cast("double"), 2).as("total_weight"))
      .orderBy("flag")
  }

  /** Time-series gap fill with LINEAR INTERPOLATION —
    * [[eventsResampleFfill]]'s two-sided sibling: per event type, the
    * daily revenue series is completed over the full day spine; missing
    * days interpolate between the surrounding known points, and
    * one-sided gaps fall back to ffill/bfill (src column names which).
    * Shape at scale: raw events collapse once to per-(type, day) sums;
    * the spine is |types|×|days| rows (time-bounded, not corpus-
    * bounded), and both ignore-null windows run over that aggregate
    * only. Exactness: knowns are exact decimals; the interpolation
    * fraction is integer day arithmetic; one IEEE mul+add before r6. */
  def eventsResampleInterp(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val daily = ev
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast(Qty)).as("v"))
    val span = ev.agg(min(to_date(col("ts"))).as("d0"),
      max(to_date(col("ts"))).as("d1"))
    val spine = ev.select(col("event_type").as("et")).distinct()
      .crossJoin(broadcast(span))
      .select(col("et"), explode(expr("sequence(d0, d1)")).as("d"))
    val j = spine.join(daily, Seq("et", "d"), "left")
      .withColumn("di", datediff(col("d"), to_date(lit("1970-01-01"))).cast("long"))
    val wB = Window.partitionBy("et").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wF = Window.partitionBy("et").orderBy("d")
      .rowsBetween(1, Window.unboundedFollowing)
    val known = when(col("v").isNotNull, col("di"))
    val knownV = when(col("v").isNotNull, col("v"))
    j.withColumn("pd", last(known, ignoreNulls = true).over(wB))
      .withColumn("pv", last(knownV, ignoreNulls = true).over(wB))
      .withColumn("nd", first(known, ignoreNulls = true).over(wF))
      .withColumn("nv", first(knownV, ignoreNulls = true).over(wF))
      .withColumn("src",
        when(col("v").isNotNull, "actual")
          .when(col("pv").isNotNull && col("nv").isNotNull, "interp")
          .when(col("pv").isNotNull, "ffill")
          .when(col("nv").isNotNull, "bfill")
          .otherwise("empty"))
      .withColumn("val",
        when(col("v").isNotNull, col("v").cast("double"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            col("pv").cast("double") +
              (col("nv").cast("double") - col("pv").cast("double")) *
              ((col("di") - col("pd")).cast("double") /
                (col("nd") - col("pd")).cast("double")))
          .otherwise(coalesce(col("pv"), col("nv")).cast("double")))
      .select(col("et"), dateS(col("d")).as("day_s"), col("src"),
        r6(col("val")).as("value"))
      .orderBy("et", "day_s")
  }

  /** Single-changepoint detection (binary segmentation's first split):
    * per event type, the split of the daily-count series that maximally
    * reduces SSE, via the prefix-sum closed form
    * SSE = Σy² − (Σy)²/n on each side. Shape at scale: events collapse
    * once to per-(type, day) counts; every window (prefix sums, totals,
    * the argmax ranking) runs over that ≤ |types|·|days| aggregate —
    * candidate evaluation is O(#days) per type, never corpus-sized.
    * Exactness: counts and Σy² are exact (y² through DECIMAL — a
    * 100 TB day's count squares past int64); the SSE-reduction is the
    * identical IEEE expression on both engines, r6-rounded BEFORE the
    * argmax so the ranking can't diverge; ties break to the earliest
    * split. */
  def eventsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
    val wo = Window.partitionBy("et").orderBy("d")
    val wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("et")
    val yy = col("y").cast(d19) * col("y").cast(d19)
    val c = daily
      .withColumn("k", row_number().over(wo))
      .withColumn("cs", sum(col("y")).over(wc))
      .withColumn("css", sum(yy).over(wc))
      .withColumn("n", count(lit(1)).over(wf))
      .withColumn("ts_", sum(col("y")).over(wf))
      .withColumn("tss", sum(yy).over(wf))
    val kD = col("k").cast("double"); val nD = col("n").cast("double")
    val csD = col("cs").cast("double"); val tsD = col("ts_").cast("double")
    val cssD = col("css").cast("double"); val tssD = col("tss").cast("double")
    val red = (tssD - tsD * tsD / nD) - (cssD - csD * csD / kD) -
      ((tssD - cssD) - (tsD - csD) * (tsD - csD) / (nD - kD))
    val wPick = Window.partitionBy("et").orderBy(col("red").desc, col("k"))
    c.filter(col("k") < col("n"))
      .withColumn("red", r6(red))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("et"), dateS(col("d")).as("split_day_s"),
        col("k").cast("long").as("split_idx"),
        r4(csD / kD).as("left_mean"),
        r4((tsD - csD) / (nD - kD)).as("right_mean"),
        col("red").as("sse_reduction"))
      .orderBy("et")
  }

  /** Welch's two-sample t-test — the A/B readout (purchase vs click
    * values): group means, the t statistic under unequal variances, and
    * the Welch–Satterthwaite degrees of freedom. Shape at scale: one
    * map-side-combined (n, Σv, Σv²) aggregate per group — the
    * sufficient statistics, never the samples — then a 2-row pivot and
    * pure scalar arithmetic. Exactness: Σv and Σv² stay DECIMAL (v²
    * squared inside the decimal domain); mean/variance/t/df are the
    * IDENTICAL IEEE expression tree on both engines before r4/r6
    * (sample variance uses the Σv² − n·mean² form — spelled once,
    * mirrored verbatim in the oracle). */
  def eventsAbTtest(spark: SparkSession, dir: String): DataFrame = {
    val g = table(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Qty)).as("s"),
        sum(col("value").cast(Qty) * col("value").cast(Qty)).as("ss"))
    def side(t: String, c: String) = max(when(col("event_type") === t, col(c)))
    val one = g.groupBy()
      .agg(side("purchase", "n").as("n1"), side("purchase", "s").as("s1"),
        side("purchase", "ss").as("ss1"),
        side("click", "n").as("n2"), side("click", "s").as("s2"),
        side("click", "ss").as("ss2"))
    def mean(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    def varOf(ss: String, n: String, m: Column) =
      (col(ss).cast("double") - col(n).cast("double") * m * m) /
        (col(n).cast("double") - lit(1.0))
    val m1 = mean("s1", "n1"); val m2 = mean("s2", "n2")
    val va = varOf("ss1", "n1", m1) / col("n1").cast("double")
    val vb = varOf("ss2", "n2", m2) / col("n2").cast("double")
    val t = (m1 - m2) / sqrt(va + vb)
    val df = (va + vb) * (va + vb) /
      (va * va / (col("n1").cast("double") - lit(1.0)) +
        vb * vb / (col("n2").cast("double") - lit(1.0)))
    one.select(col("n1"), col("n2"),
      r4(m1).as("mean_purchase"), r4(m2).as("mean_click"),
      r4(m1 - m2).as("mean_diff"), r4(t).as("t_stat"), r4(df).as("welch_df"))
  }

  /** Benford first-digit profile + χ² distance — the bookkeeping-fraud
    * screen over l_extendedprice: observed first-significant-digit
    * frequencies vs Benford's log10(1+1/d), and the χ² statistic.
    * Shape at scale: digit extraction is a per-row projection; the
    * profile is a 9-group hash agg (map-side combined); χ² runs over
    * the 9-row aggregate via a full-frame window. Exactness: the digit
    * comes from the value's SHORTEST-ROUND-TRIP string (both engines
    * print doubles identically — the `pipe_analyze_stats` parity),
    * expected counts are ln(1+1/d)/ln(10) — the same libm calls both
    * sides — r6-fixed per digit BEFORE the χ² terms, and each term is
    * r6-fixed to DECIMAL before the 9-term sum. */
  def aggBenfordProfile(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val digits = table(spark, dir, "lineitem")
      .filter(col("l_extendedprice") > 0)
      .select(substring(regexp_replace(
        col("l_extendedprice").cast("string"), "[^1-9]", ""), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val wf = Window.orderBy("digit")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dD = col("digit").cast("double")
    val expD = r6(col("tot").cast("double") *
      (log(lit(1.0) + lit(1.0) / dD) / log(lit(10.0))))
    digits
      .withColumn("tot", sum(col("n_obs")).over(wf))
      .withColumn("expected", expD)
      .withColumn("term", r6((col("n_obs").cast("double") - col("expected")) *
        (col("n_obs").cast("double") - col("expected")) / col("expected"))
        .cast(d166))
      .withColumn("chi2", r4(sum(col("term")).over(wf).cast("double")))
      .select(col("digit"), col("n_obs"),
        r6(col("n_obs").cast("double") / col("tot").cast("double")).as("obs_frac"),
        r4(col("expected")).as("expected"), col("chi2"))
      .orderBy("digit")
  }

  /** χ² test of independence between order priority and order status —
    * the categorical sibling of [[eventsAbTtest]]: contingency cells,
    * expected counts from the margins, the χ² statistic and its
    * degrees of freedom. Shape at scale: one hash agg to the
    * ≤ |priorities|·|statuses| cell table (map-side partials); margins
    * are windows OVER THAT AGGREGATE; the final reduce is a global agg
    * of the cell frame. Exactness: counts exact; expected = rt·ct/n is
    * one IEEE mul+div r6-fixed per cell; each χ² term r6→DECIMAL
    * before the sum. */
  def aggChi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val cells = table(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("p"), col("o_orderstatus").as("s"))
      .agg(count(lit(1)).as("n"))
    val wr = Window.partitionBy("p")
    val wcl = Window.partitionBy("s")
    val wf = Window.orderBy("p", "s")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val expD = r6(col("rt").cast("double") * col("ct").cast("double") /
      col("tot").cast("double"))
    cells
      .withColumn("rt", sum(col("n")).over(wr))
      .withColumn("ct", sum(col("n")).over(wcl))
      .withColumn("tot", sum(col("n")).over(wf))
      .withColumn("exp", expD)
      .withColumn("term", r6((col("n").cast("double") - col("exp")) *
        (col("n").cast("double") - col("exp")) / col("exp")).cast(d166))
      .groupBy()
      .agg(max(col("tot")).as("n"),
        countDistinct(col("p")).as("n_rows_cat"),
        countDistinct(col("s")).as("n_cols_cat"),
        r4(sum(col("term")).cast("double")).as("chi2"))
      .select(col("n"), col("n_rows_cat"), col("n_cols_cat"),
        ((col("n_rows_cat") - 1) * (col("n_cols_cat") - 1)).as("dof"),
        col("chi2"))
  }

  /** Sequential probability-ratio test (Wald SPRT) over the daily A/B
    * stream — the ALWAYS-VALID monitor that answers "could this
    * experiment have stopped early?", where [[eventsAbTtest]] and
    * [[eventsPowerAnalysis]] are fixed-horizon: H1 = control rate
    * lifted 20%, boundaries ±ln 19 (α = β = 0.05), and the day the
    * cumulative log-likelihood ratio first exits decides. Shape at
    * scale: (day, user) activity collapses once, per-day arm counts
    * are a second hash agg, and the LLR is a running window over the
    * model-sized day frame. Exactness: the two per-observation LLR
    * increments are quantized ONCE as scalars (r6 of ln ratios — one
    * rounding per constant, not per row), so every day term is the
    * identical double product and the cumulative sum rides exact
    * DECIMAL(16,6). */
  def eventsSprtSequential(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val act = table(spark, dir, "events")
      .select(to_date(col("ts")).as("d"), col("user_id"),
        (col("event_type") === "purchase").as("isP"))
      .groupBy("d", "user_id")
      .agg(max(when(col("isP"), 1L).otherwise(0L)).as("conv"))
      .withColumn("arm", (col("user_id") % 2 === 0).as("arm"))
    val daily = act.groupBy("d", "arm")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
    val p0row = daily.filter(!col("arm"))
      .agg((sum(col("k")).cast("double") / sum(col("n")).cast("double"))
        .as("p0"))
      .withColumn("p1", least(lit(0.999), col("p0") * lit(1.2)))
      .withColumn("l1", r6(log(col("p1") / col("p0"))))
      .withColumn("l0",
        r6(log((lit(1.0) - col("p1")) / (lit(1.0) - col("p0")))))
    val t = daily.filter(col("arm")).crossJoin(broadcast(p0row))
      .withColumn("term",
        r6(col("k").cast("double") * col("l1") +
          (col("n") - col("k")).cast("double") * col("l0")).cast(d166))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bound = 2.9444389791664403 // ln 19
    val cum = t.withColumn("llr", sum(col("term")).over(w).cast("double"))
      .withColumn("crossed",
        when(col("llr") >= bound, lit(1))
          .when(col("llr") <= -bound, lit(-1)))
    val cross = cum.filter(col("crossed").isNotNull)
      .agg(min(struct(col("d"), col("crossed"))).as("c"))
      .select(col("c.d").as("cross_d"), col("c.crossed").as("dir"))
    val fin = cum.agg(count(lit(1)).as("n_days"),
      sum(col("term")).cast("double").as("final_llr"))
    fin.crossJoin(broadcast(p0row)).crossJoin(cross)
      .select(col("n_days"), r6(col("p0")).as("p0_rate"),
        r6(col("p1")).as("p1_rate"),
        r4(col("final_llr")).as("final_llr"),
        dateS(col("cross_d")).as("crossing_day"),
        when(col("dir") === 1, lit("accept_h1"))
          .when(col("dir") === -1, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
  }

  /** Cramér's V (plus the Bergsma bias-corrected variant) for
    * market-segment × nation over customers — the NORMALIZED effect
    * size [[aggChi2Independence]]'s raw χ² is not: V lives on [0,1]
    * and compares across tables of different shape, and the corrected
    * Ṽ removes the small-sample inflation that makes naive V ≈ 0.05
    * "signals" out of pure noise. Shape at scale: one hash agg to the
    * (segment × nation) contingency cells, marginals via two windows
    * over that model-sized frame, χ² terms r6→DECIMAL(16,6) before
    * the cross-cell sum (the [[aggChi2Independence]] discipline); all
    * three outputs are single double expressions from exact counts. */
  def aggCramersV(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val cells = table(spark, dir, "customer")
      .groupBy(col("c_mktsegment").as("p"), col("c_nationkey").as("s"))
      .agg(count(lit(1)).as("n"))
    // FULL r×k grid: a groupBy only yields OBSERVED combinations, and
    // dropping structural-zero cells undercounts χ² exactly when
    // association is strongest (a perfectly diagonal table lost its
    // six zero cells and scored V=0.82 instead of 1 — caught by the
    // planted-association spec). Marginals cross-join to the full
    // model-sized grid; absent cells count 0.
    val rmar = cells.groupBy("p").agg(sum(col("n")).as("rt"))
    val cmar = cells.groupBy("s").agg(sum(col("n")).as("ct"))
    val tot = cells.agg(sum(col("n")).as("tot"))
    val grid = rmar.crossJoin(cmar).crossJoin(broadcast(tot))
      .join(cells, Seq("p", "s"), "left")
      .withColumn("n0", coalesce(col("n"), lit(0L)))
    val expD = r6(col("rt").cast("double") * col("ct").cast("double") /
      col("tot").cast("double"))
    val agg = grid
      .withColumn("exp", expD)
      .withColumn("term", r6((col("n0").cast("double") - col("exp")) *
        (col("n0").cast("double") - col("exp")) / col("exp")).cast(d166))
      .groupBy()
      .agg(max(col("tot")).as("n"),
        countDistinct(col("p")).as("r_cat"),
        countDistinct(col("s")).as("k_cat"),
        sum(col("term")).cast("double").as("chi2"))
    def d(cn: String) = col(cn).cast("double")
    val nD = d("n")
    val phi2 = d("chi2") / nD
    val rD = d("r_cat"); val kD = d("k_cat")
    val minDim = least(rD - 1, kD - 1)
    val v = sqrt(phi2 / minDim)
    val phi2c = greatest(phi2 - (rD - 1) * (kD - 1) / (nD - 1), lit(0.0))
    val rc = rD - (rD - 1) * (rD - 1) / (nD - 1)
    val kc = kD - (kD - 1) * (kD - 1) / (nD - 1)
    val vc = sqrt(phi2c / least(rc - 1, kc - 1))
    agg.select(col("n"), col("r_cat"), col("k_cat"),
      r4(d("chi2")).as("chi2"),
      r6(when(minDim > 0, v)).as("cramers_v"),
      r6(when(least(rc, kc) > 1, vc)).as("cramers_v_corrected"))
  }

  /** Exponential retention-decay fit — the parametric summary over
    * [[eventsRetention]]'s cohort curve: pool cohorts into the overall
    * day-k retention rate r_k = active_k/active_0 and fit ln r_k = a +
    * b·k over k = 1..14 by OLS, reporting the daily decay b, the
    * implied half-life −ln2/b, and the fit R². Shape at scale: the
    * cohort/offset machinery is one distinct + two hash aggs (the
    * retention shape); the fit runs on ≤14 pooled points with each ln
    * term r6→DECIMAL(16,6) before the tiny sums — the
    * order-independence discipline for double terms. */
  def eventsRetentionFit(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val ev = table(spark, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val active = ev.distinct()
    val cohort = active.groupBy("user_id")
      .agg(min(col("day")).as("cohort_day"))
    val offsets = active.join(cohort, "user_id")
      .select(datediff(col("day").cast("date"),
        col("cohort_day").cast("date")).cast("long").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_active"))
    val base = offsets.filter(col("k") === 0)
      .select(col("n_active").as("n0"))
    val pts = offsets.filter(col("k") >= 1 && col("k") <= 14)
      .crossJoin(broadcast(base))
      .filter(col("n_active") > 0)
      .select(col("k").cast("double").as("x"),
        log(col("n_active").cast("double") / col("n0").cast("double"))
          .as("y"))
    val s = pts.agg(count(lit(1)).as("m"),
      sum(r6(col("x")).cast(d166)).as("sx"),
      sum(r6(col("y")).cast(d166)).as("sy"),
      sum(r6(col("x") * col("y")).cast(d166)).as("sxy"),
      sum(r6(col("x") * col("x")).cast(d166)).as("sxx"),
      sum(r6(col("y") * col("y")).cast(d166)).as("syy"))
    def d(cn: String) = col(cn).cast("double")
    val mD = d("m")
    val det = mD * d("sxx") - d("sx") * d("sx")
    val b = (mD * d("sxy") - d("sx") * d("sy")) / det
    val a = (d("sy") - b * d("sx")) / mD
    val ssTot = d("syy") - d("sy") * d("sy") / mD
    val ssRes = ssTot - b * b * det / mD
    val ok = col("m") >= 3 && abs(det) > lit(0.0)
    s.crossJoin(broadcast(base)).select(col("n0").as("n_day0_users"),
      col("m").as("n_points"),
      r4(when(ok, a)).as("intercept_ln"),
      r6(when(ok, b)).as("daily_decay"),
      r4(when(ok && b < 0, lit(-0.6931471805599453) / b))
        .as("half_life_days"),
      r6(when(ok && ssTot > 0, lit(1.0) - ssRes / ssTot)).as("r2"))
  }

  /** Daily conversion rate with a Wilson 95% score interval — the
    * uncertainty-aware funnel readout (a plain p̂ ± z√(p̂q̂/n) interval
    * misbehaves at small n and p near 0/1; Wilson doesn't). Conversion
    * = purchases / (purchases + clicks) per day. Shape at scale: one
    * conditional-count aggregate per day (map-side partials), then
    * pure per-row scalar arithmetic on the ≤ |days| aggregate.
    * Exactness: k and n are exact longs; the Wilson center/half-width
    * is the identical IEEE expression tree on both engines before
    * r6. */
  def eventsConversionCi(spark: SparkSession, dir: String): DataFrame = {
    val z = lit(1.96); val z2 = lit(1.96 * 1.96)
    val g = table(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("k"),
        count(lit(1)).as("n"))
    val nD = col("n").cast("double"); val kD = col("k").cast("double")
    val pHat = kD / nD
    val denom = lit(1.0) + z2 / nD
    val center = (pHat + z2 / (lit(2.0) * nD)) / denom
    val half = z * sqrt(pHat * (lit(1.0) - pHat) / nD +
      z2 / (lit(4.0) * nD * nD)) / denom
    g.select(dateS(col("d")).as("day_s"), col("k"), col("n"),
      r6(pHat).as("rate"), r6(center - half).as("lo"), r6(center + half).as("hi"))
      .orderBy("day_s")
  }

  /** Per-user-day ML feature table — the feature-engineering step of a
    * training pipeline: previous-day revenue, trailing-7-CALENDAR-day
    * revenue/activity (RANGE frame on the day ordinal, so inactive days
    * genuinely age out — a ROWS frame would span the last 7 ACTIVE
    * days), and recency (days since previous activity, −1 on first
    * appearance). Shape at scale: raw events collapse once to the
    * (user, day) aggregate (map-side partials); every window rides the
    * user_id hash partitioning over that aggregate. Exactness: revenue
    * stays DECIMAL through the lags and range sums; day arithmetic is
    * exact ints. */
  def eventsLagFeatures(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n_ev"), sum(col("value").cast(Qty)).as("rev_d"))
      .withColumn("di", datediff(col("d"), to_date(lit("1970-01-01"))).cast("long"))
    val wo = Window.partitionBy("user_id").orderBy("d")
    val wr = Window.partitionBy("user_id").orderBy("di").rangeBetween(-6, 0)
    daily
      .withColumn("prev_rev", lag(col("rev_d"), 1).over(wo))
      .withColumn("rev_7d", sum(col("rev_d")).over(wr))
      .withColumn("n_7d", sum(col("n_ev")).over(wr))
      .withColumn("dsp", col("di") - lag(col("di"), 1).over(wo))
      .select(col("user_id"), dateS(col("d")).as("day_s"), col("n_ev"),
        round(col("rev_d").cast("double"), 2).as("rev"),
        round(coalesce(col("prev_rev"), lit(0).cast(Qty)).cast("double"), 2)
          .as("prev_rev"),
        round(col("rev_7d").cast("double"), 2).as("rev_7d"),
        col("n_7d"),
        coalesce(col("dsp"), lit(-1L)).cast("long").as("days_since_prev"))
      .orderBy("user_id", "day_s")
  }

  /** Point-in-time-correct feature join — the feature-store pattern that
    * keeps training data leakage-free: each purchase label joins the
    * latest order state STRICTLY BEFORE its timestamp (a same-instant
    * order is NOT visible — [[joinAsofEventOrder]] is the ≤-semantics
    * sibling; the strict rule is what "no label leakage" means), plus a
    * static customer attribute and the feature's staleness in days.
    * Shape at scale: the asof is the union-tag spelling — one window
    * over the user_id hash partitioning, labels sorted BEFORE
    * same-timestamp features so the ignore-null `last` can't see them;
    * the customer dim rides a broadcast. The three feature columns are
    * selected by the same last-non-null frame, so they come from the
    * SAME feature row (never a Frankenstein of two orders). */
  def joinPitFeatures(spark: SparkSession, dir: String): DataFrame = {
    val labels = table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("uid"), unix_micros(col("ts")).as("t_us"),
        lit(0).as("is_feat"), col("event_id"), tsS(col("ts")).as("ts_s"),
        lit(null).cast("long").as("okey"),
        lit(null).cast(Money).as("price_d"),
        lit(null).cast("long").as("ot_us"))
    val feats = table(spark, dir, "orders")
      .select(col("o_custkey").as("uid"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t_us"),
        lit(1).as("is_feat"), lit(null).cast("long").as("event_id"),
        lit(null).cast("string").as("ts_s"),
        col("o_orderkey").as("okey"),
        col("o_totalprice").cast(Money).as("price_d"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ot_us"))
    // strict "<": at an equal timestamp the label (is_feat 0) sorts
    // BEFORE the feature row, so the frame ending at the label excludes
    // it. okey tie-break: o_orderdate is DATE-resolution, so one user
    // regularly has TWO orders at the same t_us — without the key the
    // "last" order is engine-dependent (caught by the sf0.1 full soak:
    // row 866 picked okey 33160 on Spark, 28389 on DuckDB). Label rows
    // have okey NULL but only tie among themselves, where f_* values
    // are identical regardless of order.
    val w = Window.partitionBy("uid")
      .orderBy(col("t_us"), col("is_feat"), col("okey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = labels.unionByName(feats)
      .withColumn("f_okey", last(col("okey"), ignoreNulls = true).over(w))
      .withColumn("f_price", last(col("price_d"), ignoreNulls = true).over(w))
      .withColumn("f_t", last(col("ot_us"), ignoreNulls = true).over(w))
      .filter(col("is_feat") === 0)
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey").as("uid"),
        col("c_acctbal").cast(Money).as("bal_d"))
    joined.join(broadcast(cust), Seq("uid"), "left")
      .select(col("event_id"), col("uid").as("user_id"), col("ts_s"),
        col("f_okey").as("o_orderkey"),
        round(col("f_price").cast("double"), 2).as("o_totalprice"),
        ((col("t_us") - col("f_t")) / lit(86400000000L)).cast("long")
          .as("order_age_days"),
        round(col("bal_d").cast("double"), 2).as("acctbal"))
      .orderBy("event_id")
  }

  /** Jensen-Shannon divergence between the first and second half of the
    * event stream's type mix — the batch-drift metric ("did the
    * distribution shift between these two deliveries?") that a
    * threshold can gate promotion on. The split point is data-derived
    * (midpoint of the observed day span, broadcast one-row). Shape at
    * scale: events collapse once to (type, period) counts; everything
    * after runs on the ≤ |types| aggregate. Exactness: p/q/m are exact
    * count ratios; each type's JSD contribution is r6-fixed to DECIMAL
    * before the full-frame sum; zero-mass sides contribute exactly 0 by
    * the CASE guard (lim p→0 of p·ln(p/m) = 0). Units: nats. */
  def eventsMixShift(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val ev = table(spark, dir, "events")
    val span = ev.agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      // integer DIV on both engines: a double /2 cast would TRUNCATE in
      // Spark but ROUND in DuckDB on odd spans
      .select(expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").as("mid"))
    val counts = ev.crossJoin(broadcast(span))
      .select(col("event_type").as("et"),
        when(to_date(col("ts")) <= col("mid"), "A").otherwise("B").as("period"))
      .groupBy("et", "period").agg(count(lit(1)).as("n"))
    val byType = counts.groupBy("et")
      .agg(coalesce(sum(when(col("period") === "A", col("n"))), lit(0L)).as("na"),
        coalesce(sum(when(col("period") === "B", col("n"))), lit(0L)).as("nb"))
    val wf = Window.orderBy("et")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val p = col("na").cast("double") / col("ta").cast("double")
    val q = col("nb").cast("double") / col("tb").cast("double")
    val m = (p + q) / lit(2.0)
    byType
      .withColumn("ta", sum(col("na")).over(wf))
      .withColumn("tb", sum(col("nb")).over(wf))
      .withColumn("contrib", r6(
        lit(0.5) * when(col("na") > 0, p * log(p / m)).otherwise(lit(0.0)) +
        lit(0.5) * when(col("nb") > 0, q * log(q / m)).otherwise(lit(0.0)))
        .cast(d166))
      .withColumn("jsd_total", r4(sum(col("contrib")).over(wf).cast("double")))
      .select(col("et"), col("na"), col("nb"),
        r6(p).as("p_first"), r6(q).as("q_second"),
        col("contrib").cast("double").as("jsd_contrib"), col("jsd_total"))
      .orderBy("et")
  }

  /** Day-of-week × hour activity heatmap — the load-profile matrix every
    * ops dashboard opens with. ISO day numbering on BOTH engines
    * (Spark `weekday()+1` = DuckDB `isodow`, Mon=1..Sun=7 — Spark's
    * `dayofweek` and DuckDB's `dow` disagree on where Sunday lands,
    * a real cross-engine trap). One hash agg to the ≤ 7×24 cell table
    * (map-side partials); the share denominator is a full-frame window
    * over that aggregate. */
  def eventsHeatmapDowHour(spark: SparkSession, dir: String): DataFrame = {
    val cells = table(spark, dir, "events")
      .groupBy((weekday(col("ts")) + 1).as("isodow"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.orderBy("isodow", "hr")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells.withColumn("tot", sum(col("n")).over(wf))
      .select(col("isodow").cast("long").as("isodow"),
        col("hr").cast("long").as("hr"), col("n"),
        r6(col("n").cast("double") / col("tot").cast("double")).as("share"))
      .orderBy("isodow", "hr")
  }

  /** New-vs-returning daily split — the growth dashboard's second row:
    * per day, how many actives are first-ever-seen vs returning. Shape
    * at scale: one per-user min fixes first-seen (map-side partials);
    * the corpus collapses to distinct (user, day) pairs ONCE; the
    * comparison join rides the user_id partitioning; the daily rollup
    * is aggregate-sized. */
  def aggNewVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val pairs = table(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val firstSeen = pairs.groupBy("user_id").agg(min(col("d")).as("fd"))
    pairs.join(firstSeen, "user_id")
      .groupBy("d")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("d") === col("fd"), 1L).otherwise(0L)).as("n_new"))
      .select(dateS(col("d")).as("day_s"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        r6(col("n_new").cast("double") / col("n_active").cast("double"))
          .as("new_share"))
      .orderBy("day_s")
  }

  /** Time-to-convert distribution — minutes from a user's FIRST click to
    * their first purchase at-or-after it, summarized as lower-quantile
    * minutes at p50/p90 plus mean and max. Shape at scale: two per-user
    * extremes (map-side partials) + one user-keyed join; deltas bucket
    * to MINUTES so the quantile CDF runs over a bounded bucket
    * aggregate, not a per-user frame — the resolution trade (±1 min)
    * is the price of an unpartitioned window never touching anything
    * user-sized, and is documented here rather than hidden. Exactness:
    * Σdelta goes through DECIMAL (µs sums overflow int64 at extreme
    * user counts); quantiles are exact integer CDF comparisons. */
  def eventsTimeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val ev = table(spark, dir, "events")
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("c0"))
    val firstPurch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pt"))
      .join(firstClick, "user_id")
      .filter(col("pt") >= col("c0"))
      .groupBy("user_id", "c0").agg(min(col("pt")).as("p0"))
      .select(col("user_id"), (col("p0") - col("c0")).as("delta_us"))
    val buckets = firstPurch
      .groupBy(expr("delta_us div 60000000").as("mn"))
      .agg(count(lit(1)).as("c"), sum(col("delta_us").cast(d19)).as("sd"))
    val wc = Window.orderBy("mn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.orderBy("mn")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    buckets
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("tot", sum(col("c")).over(wf))
      .withColumn("sdt", sum(col("sd")).over(wf))
      .withColumn("mx", max(col("mn")).over(wf))
      .groupBy()
      .agg(max(col("tot")).as("n_converted"),
        min(when(col("cum") * 2 >= col("tot"), col("mn"))).as("p50_min"),
        min(when(col("cum") * 10 >= col("tot") * 9, col("mn"))).as("p90_min"),
        max(col("mx")).as("max_min"),
        r4(max(col("sdt")).cast("double") /
          (max(col("tot")).cast("double") * lit(60000000.0))).as("mean_min"))
  }

  /** k-anonymity report over the customer quasi-identifier projection
    * (nation, market segment) at k = 5 — the privacy-engineering check
    * run before a dataset leaves the boundary: every equivalence class
    * with fewer than k members re-identifies its rows. Per class: size
    * and the risky flag; globally: the fraction of ROWS at risk (the
    * suppression budget). Shape at scale: one hash agg to the
    * ≤ |nations|·|segments| class table; the global fraction is a
    * full-frame window over that aggregate. All counts exact; one IEEE
    * division before r6. */
  def aggKAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val g = table(spark, dir, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.orderBy("nation", "segment")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("tot", sum(col("n")).over(wf))
      .withColumn("risky_rows",
        sum(when(col("n") < 5, col("n")).otherwise(0L)).over(wf))
      .select(col("nation"), col("segment"), col("n"),
        (col("n") < 5).as("risky"),
        r6(col("risky_rows").cast("double") / col("tot").cast("double"))
          .as("at_risk_frac"))
      .orderBy("nation", "segment")
  }

  /** Association mining's first table — event-type co-occurrence in
    * (user, day) baskets with support and LIFT (how much likelier the
    * pair is than independence): lift = P(a,b)/(P(a)·P(b)). Shape at
    * scale: the corpus collapses once to distinct (basket, type) rows;
    * the pair self-join is keyed on the HIGH-CARDINALITY basket id
    * (user, day) with t1 < t2 inside the basket — output bounded by
    * |types|² per basket, never corpus²; singles and the basket count
    * are aggregate-sized joins. Exactness: supports are exact ints;
    * lift = (n_both·N)/(c1·c2) is one IEEE expression before r4. */
  def aggBasketLift(spark: SparkSession, dir: String): DataFrame = {
    val b = table(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type").as("t")).distinct()
    val nBaskets = b.select("user_id", "d").distinct()
      .agg(count(lit(1)).as("nb"))
    val singles = b.groupBy("t").agg(count(lit(1)).as("c"))
    val pairs = b.select(col("user_id"), col("d"), col("t").as("t1"))
      .join(b.select(col("user_id"), col("d"), col("t").as("t2")),
        Seq("user_id", "d"))
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n_both"))
    pairs
      .join(singles.select(col("t").as("t1"), col("c").as("c1")), "t1")
      .join(singles.select(col("t").as("t2"), col("c").as("c2")), "t2")
      .crossJoin(broadcast(nBaskets))
      .select(col("t1"), col("t2"), col("n_both"),
        r6(col("n_both").cast("double") / col("nb").cast("double")).as("support"),
        r4(col("n_both").cast("double") * col("nb").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double"))).as("lift"))
      .orderBy("t1", "t2")
  }

  /** Price elasticity per return flag — the economist's log-log
    * regression: slope of ln(quantity) on ln(unit price) estimates
    * %Δqty per %Δprice. Shape at scale: per-row log features feed
    * map-side-combined sufficient-statistic sums — the regression never
    * sees more than one row per group after the aggregate. Exactness:
    * each row's (x, y) is r6-fixed to DECIMAL(16,6) BEFORE the sums
    * (the `text_zipf_fit` discipline — decimal sums are
    * association-order-free where double sums are not), and the
    * closed-form slope/intercept arithmetic is the identical IEEE tree
    * on both engines before r4. */
  def aggPriceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val pts = table(spark, dir, "lineitem")
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      .select(col("l_returnflag").as("flag"),
        r6(log(col("l_extendedprice") / col("l_quantity"))).cast(d166).as("x"),
        r6(log(col("l_quantity"))).cast(d166).as("y"))
    val s = pts.groupBy("flag")
      .agg(count(lit(1)).cast("double").as("nd"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
    val slope = (col("nd") * col("sxy") - col("sx") * col("sy")) /
      (col("nd") * col("sxx") - col("sx") * col("sx"))
    s.select(col("flag"), col("nd").cast("long").as("n"),
        r4(slope).as("elasticity"),
        r4((col("sy") - slope * col("sx")) / col("nd")).as("intercept"))
      .orderBy("flag")
  }

  /** Maximum drawdown of cumulative daily revenue per event type — the
    * finance-desk risk summary applied to a revenue stream: largest
    * peak-to-trough fall of the running total, with the trough day.
    * Shape at scale: events collapse once to daily sums; the cumulative,
    * running-peak and argmax windows all run over that ≤ |types|·|days|
    * aggregate. Exactness: the entire cum/peak/drawdown chain stays
    * DECIMAL (a double running sum is association-order-dependent);
    * ties on the max drawdown break to the EARLIEST trough. */
  def eventsMaxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast(Qty)).as("rev_d"))
    val wc = Window.partitionBy("et").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = daily
      .withColumn("cum", sum(col("rev_d")).over(wc))
      .withColumn("peak", max(col("cum")).over(wc))
      .withColumn("dd", col("peak") - col("cum"))
    val pick = Window.partitionBy("et").orderBy(col("dd").desc, col("d"))
    c.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("et"), round(col("dd").cast("double"), 2).as("max_drawdown"),
        dateS(col("d")).as("trough_day_s"),
        round(col("peak").cast("double"), 2).as("peak_cum"),
        round(col("cum").cast("double"), 2).as("trough_cum"))
      .orderBy("et")
  }

  /** Autocorrelation of the daily revenue series at lags 1 and 7 — the
    * ACF readout that says "is there day-over-day momentum / weekly
    * seasonality" before anyone fits a model. r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ)
    * / Σ(y_t−ȳ)² with the full-series denominator (the standard ACF
    * normalization). Shape at scale: events collapse once to daily
    * sums; the lead/denominator windows run over that ≤ |days|
    * aggregate only. Exactness: ȳ is an exact-decimal sum ÷ count;
    * each cross/square term is r6-fixed to DECIMAL before its sum, so
    * neither moment depends on fold order. */
  def eventsAutocorrelation(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val daily = table(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast(Qty)).as("rev_d"))
    val w = Window.orderBy("d")
    val tot = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val c = daily
      .withColumn("ybar", sum(col("rev_d")).over(tot).cast("double") /
        count(lit(1)).over(tot).cast("double"))
      .withColumn("dev", col("rev_d").cast("double") - col("ybar"))
      .withColumn("dsq", r6(col("dev") * col("dev")).cast(d166))
      .withColumn("den", sum(col("dsq")).over(tot))
    def acfK(k: Int) = c
      .withColumn("devk", lead(col("dev"), k).over(w))
      .filter(col("devk").isNotNull)
      .withColumn("term", r6(col("dev") * col("devk")).cast(d166))
      .groupBy()
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("term")).cast("double").as("num"),
        max(col("den")).cast("double").as("den"))
      .select(lit(k.toLong).as("lag"), col("n_pairs"),
        r4(col("num") / col("den")).as("acf"))
    acfK(1).unionByName(acfK(7)).orderBy("lag")
  }

  /** Tukey-fence outlier screen per return flag — the boxplot's
    * arithmetic: lower-quartile/upper-quartile (lower-quantile rule, no
    * interpolation — consistent with [[aggWeightedMedian]]), fences at
    * Q1−1.5·IQR / Q3+1.5·IQR, and the count and revenue share of
    * out-of-fence rows. Completes the robust-outlier family
    * (z-score = parametric, MAD = robust center, Tukey = quartile
    * fences). Shape at scale: the quartiles ride the (flag, price-cent)
    * CDF aggregate; the outlier count is ONE more pass with the fences
    * broadcast — two scans total, no sort of raw data. Exactness:
    * quartiles are exact decimal CDF comparisons; the fences go to
    * DOUBLES (decimal × 1.5 promotes on both engines) — the quartile
    * decimals convert to the same nearest doubles everywhere, so the
    * fence comparisons are deterministic cross-engine. */
  def aggTukeyFences(spark: SparkSession, dir: String): DataFrame = {
    // rank selection off the two-level bucket cumsum (groupedCumHist):
    // the old per-flag full-histogram window sorted ~2M distinct prices
    // in one task per flag (8.1 s in the r14 sf1 bench-of-record).
    // r16 optimization round: the outlier pass now aggregates the SAME
    // materialized histogram (Σ over (v, c) — exact decimal identity
    // Σ_rows p ≡ Σ_hist v·c) instead of re-scanning lineitem and
    // broadcast-joining the fences over every raw row: one corpus scan
    // total, and the second pass touches |distinct (grp, v)| rows.
    val hist = bucketedHist(
      table(spark, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          col("l_extendedprice").cast(Money).as("v")), 1000.0)
    val q = groupedCumHistOver(hist)
      .groupBy(col("grp").as("flag"))
      .agg(min(when(col("cum") * 4 >= col("tot"), col("v"))).as("q1"),
        min(when(col("cum") * 4 >= col("tot") * 3, col("v"))).as("q3"))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * lit(1.5))
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * lit(1.5))
    val out = col("v") < col("lo") || col("v") > col("hi")
    hist.select(col("grp").as("flag"), col("v"), col("c"))
      .join(broadcast(q), "flag")
      .groupBy("flag")
      .agg(sum(col("c")).as("n"),
        sum(when(out, col("c")).otherwise(0L)).as("n_outliers"),
        max(col("q1")).cast("double").as("q1d"),
        max(col("q3")).cast("double").as("q3d"),
        r6(sum(when(out, col("v") * col("c"))
          .otherwise(lit(0).cast(Money))).cast("double") /
          sum(col("v") * col("c")).cast("double")).as("outlier_rev_share"))
      .select(col("flag"), col("n"), col("n_outliers"),
        round(col("q1d"), 2).as("q1"), round(col("q3d"), 2).as("q3"),
        col("outlier_rev_share"))
      .orderBy("flag")
  }

  /** The optimizer-rule rung of the extension ladder, ORACLE-verified:
    * this query is written as the plain `row_number() <= 3` window
    * idiom — top-3 customers by balance per market segment — and
    * Catalyst rewrites it into the bounded-heap [[graft.plans.TopKPerKeyExec]]
    * with [[graft.plans.TopKWindowRewrite]], which `table` installs (no
    * per-group sort; PlanSpec asserts the exec appears). The DuckDB oracle
    * runs the UNREWRITTEN idiom — the result-hash comparison therefore proves
    * the rewrite is semantics-preserving on real data, which a unit spec
    * alone cannot. */
  def windowTopkRewrite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(desc("c_acctbal"), col("c_custkey"))
    table(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment").as("segment"), col("c_custkey"),
        round(col("c_acctbal").cast(Money).cast("double"), 2).as("acctbal"))
      .orderBy(col("segment"), desc("acctbal"), col("c_custkey"))
  }

  /** Two-proportion z-test on conversion between the first and second
    * half of the stream — "did the conversion rate MOVE, beyond
    * noise?": pooled-variance z statistic over the same data-derived
    * midpoint split as [[eventsMixShift]]. Completes the testing
    * family (Welch t, χ², Wilson CI, two-proportion z). Shape at
    * scale: one conditional-count aggregate per period (map-side
    * partials), then one-row scalar arithmetic. Exactness: counts
    * exact; p̂/pooled/z is the identical IEEE tree both engines before
    * r4. */
  def eventsTwoProportionZ(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val span = ev.agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      .select(expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").as("mid"))
    val g = ev.filter(col("event_type").isin("purchase", "click"))
      .crossJoin(broadcast(span))
      .groupBy(when(to_date(col("ts")) <= col("mid"), "A").otherwise("B").as("period"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("k"),
        count(lit(1)).as("n"))
    def side(p: String, c: String) = max(when(col("period") === p, col(c)))
    val one = g.groupBy()
      .agg(side("A", "k").as("k1"), side("A", "n").as("n1"),
        side("B", "k").as("k2"), side("B", "n").as("n2"))
    val n1d = col("n1").cast("double"); val n2d = col("n2").cast("double")
    val p1 = col("k1").cast("double") / n1d
    val p2 = col("k2").cast("double") / n2d
    val pp = (col("k1") + col("k2")).cast("double") / (n1d + n2d)
    val z = (p1 - p2) / sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1d + lit(1.0) / n2d))
    one.select(col("k1"), col("n1"), col("k2"), col("n2"),
      r6(p1).as("rate_first"), r6(p2).as("rate_second"),
      r4(z).as("z_stat"))
  }

  /** Fuzzy entity matching (record linkage) over part names: candidate
    * pairs from a 6-char-prefix BLOCK, verified by Levenshtein ≤ 2 —
    * the classic blocking+verification shape that replaces the
    * impossible all-pairs edit-distance join. Shape at scale: the
    * block key is high-cardinality; blocks are size-capped at 64 by
    * the row_number discipline (the same cap the LSH buckets use), so
    * pair expansion is ≤ 64²/2 per block — output- AND state-bounded.
    * Top-100 by (distance, keys) keeps the result stable however many
    * matches exist. Both engines share the exact Levenshtein
    * (`scalar_string_distance` proved the parity). */
  def joinFuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
      .select(col("p_partkey").as("pk"), col("p_name").as("name"),
        substring(col("p_name"), 1, 6).as("blk"))
    val capW = Window.partitionBy("blk").orderBy("pk")
    val cap = p.withColumn("rn", row_number().over(capW))
      .filter(col("rn") <= 64).drop("rn")
    cap.select(col("pk").as("pk1"), col("name").as("n1"), col("blk"))
      .join(cap.select(col("pk").as("pk2"), col("name").as("n2"), col("blk")), "blk")
      .filter(col("pk1") < col("pk2"))
      .withColumn("d", levenshtein(col("n1"), col("n2")).cast("long"))
      .filter(col("d") <= 2)
      .select(col("pk1"), col("pk2"), col("d"))
      .orderBy("d", "pk1", "pk2")
      .limit(100)
  }

  /** Two-sample Kolmogorov–Smirnov test between the purchase and click
    * value distributions — the nonparametric distribution-shift readout
    * (did the value distribution change shape, not just mean — the
    * question [[eventsAbTtest]] can't answer). D = max |F₁−F₂| over the
    * pooled support, plus the one-term asymptotic bound
    * p ≤ 2·exp(−2·D²·n₁n₂/(n₁+n₂)). Shape at scale: one hash agg
    * collapses the corpus to per-distinct-value conditional counts
    * (values are 2-decimal — the aggregate is DOMAIN-bounded, not
    * corpus-bounded); both ECDFs ride one cumulative window over that
    * aggregate. Exactness: counts exact; F₁/F₂ are exact-integer IEEE
    * divisions identical on both engines, so the max can't diverge;
    * r6 only at output. */
  def aggKsTest(spark: SparkSession, dir: String): DataFrame = {
    val v = table(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(col("value").cast(Qty).as("val"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("k1"),
        count(when(col("event_type") === "click", 1)).as("k2"))
    val wc = Window.orderBy("val")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.orderBy("val")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val c = v.withColumn("c1", sum(col("k1")).over(wc))
      .withColumn("c2", sum(col("k2")).over(wc))
      .withColumn("n1", sum(col("k1")).over(wf))
      .withColumn("n2", sum(col("k2")).over(wf))
    val gap = abs(col("c1").cast("double") / col("n1").cast("double") -
      col("c2").cast("double") / col("n2").cast("double"))
    val d = c.groupBy().agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
      max(gap).as("dmax"))
    val n1d = col("n1").cast("double"); val n2d = col("n2").cast("double")
    val m = n1d * n2d / (n1d + n2d)
    d.select(col("n1"), col("n2"), r6(col("dmax")).as("d_stat"),
      r6(least(lit(1.0),
        lit(2.0) * exp(lit(-2.0) * col("dmax") * col("dmax") * m)))
        .as("p_bound"))
  }

  /** Mann–Whitney U (rank-sum) test on the same two samples — the
    * median-shift companion of [[aggKsTest]] that stays valid under
    * non-normal values where the t-test doesn't. Average ranks come
    * from the tie-group identity avgrank = cb + (t+1)/2 (cb = pooled
    * count strictly below), so 2·R₁ = Σ k₁·(2·cb+t+1) accumulates as
    * an EXACT integer; the normal approximation applies the standard
    * tie-corrected variance. Shape at scale: the same domain-bounded
    * per-value aggregate as KS; one lag-style cumulative window; sums
    * run through DECIMAL(38,0) (k·N products overflow int64 at 100 TB
    * counts). Exactness: everything integer until the final
    * mean/variance scalars; identical IEEE tree both engines before
    * r4/r6. */
  def aggMannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = table(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(col("value").cast(Qty).as("val"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("k1"),
        count(when(col("event_type") === "click", 1)).as("k2"))
      .withColumn("kt", col("k1") + col("k2"))
    val wb = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, -1)
    val c = v.withColumn("cb", coalesce(sum(col("kt")).over(wb), lit(0L)))
    val g = c.groupBy().agg(
      sum(col("k1")).as("n1"), sum(col("k2")).as("n2"),
      sum((col("k1").cast(d38) * (col("cb") * 2 + col("kt") + 1)))
        .as("r1x2"),
      sum(col("kt").cast(d38) * col("kt") * col("kt") - col("kt"))
        .as("ties"))
    val n1d = col("n1").cast("double"); val n2d = col("n2").cast("double")
    val nD = n1d + n2d
    val u1 = col("r1x2").cast("double") / lit(2.0) -
      n1d * (n1d + lit(1.0)) / lit(2.0)
    val mu = n1d * n2d / lit(2.0)
    val sig2 = n1d * n2d / lit(12.0) *
      ((nD + lit(1.0)) - col("ties").cast("double") / (nD * (nD - lit(1.0))))
    g.select(col("n1"), col("n2"), r4(u1).as("u_stat"), r4(mu).as("u_mean"),
      r6((u1 - mu) / sqrt(sig2)).as("z_stat"))
  }

  /** Mutual information + normalized MI between customer nation and
    * market segment — the feature-dependence screen (is a column worth
    * keeping, is a join key leaking a label) that χ² significance
    * ([[aggChi2Independence]]) doesn't quantify in bits-like units.
    * MI = Σ pᵢⱼ·ln(pᵢⱼ/(pᵢp̂ⱼ)); NMI = MI/√(H(X)·H(Y)). Shape at
    * scale: one hash agg to the |X|·|Y| cell table; margins are
    * windows OVER THAT AGGREGATE; the two marginal entropies re-group
    * the cell frame (model-sized). Exactness: each MI/entropy term is
    * r6→DECIMAL(16,6) before its order-independent sum — the [[
    * aggChi2Independence]] discipline for libm-bearing terms. */
  def aggMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val cells = table(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("x"), col("c_mktsegment").as("y"))
      .agg(count(lit(1)).as("n"))
    val wx = Window.partitionBy("x"); val wy = Window.partitionBy("y")
    val wf = Window.orderBy("x", "y")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val t = cells.withColumn("rx", sum(col("n")).over(wx))
      .withColumn("cy", sum(col("n")).over(wy))
      .withColumn("tot", sum(col("n")).over(wf))
    val nD = col("n").cast("double"); val totD = col("tot").cast("double")
    val miTerm = r6(nD / totD * log(nD * totD /
      (col("rx").cast("double") * col("cy").cast("double"))))
    val mi = t.groupBy().agg(max(col("tot")).as("n_total"),
      countDistinct(col("x")).as("n_x"), countDistinct(col("y")).as("n_y"),
      sum(miTerm.cast(d166)).as("mi_s"))
    def entropy(key: String, margin: String, out: String) =
      t.groupBy(col(key))
        .agg(max(col(margin)).as("m"), max(col("tot")).as("tt"))
        .select(r6(-(col("m").cast("double") / col("tt").cast("double")) *
          log(col("m").cast("double") / col("tt").cast("double")))
          .cast(d166).as("term"))
        .groupBy().agg(sum(col("term")).as(out))
    mi.crossJoin(broadcast(entropy("x", "rx", "hx")))
      .crossJoin(broadcast(entropy("y", "cy", "hy")))
      .select(col("n_total"), col("n_x"), col("n_y"),
        col("hx").cast("double").as("h_x"),
        col("hy").cast("double").as("h_y"),
        col("mi_s").cast("double").as("mi"),
        // Zero-guarded: a single-valued attribute has entropy 0, and
        // 0/0 is engine-specific (Spark NULL vs DuckDB double
        // semantics) — the guard pins NMI to NULL on both engines for
        // degenerate corpora instead of leaving it to dialect luck.
        when(col("hx").cast("double") * col("hy").cast("double") > 0d,
          r6(col("mi_s").cast("double") /
            sqrt(col("hx").cast("double") * col("hy").cast("double"))))
          .as("nmi"))
  }

  /** Differentially-private count release (Laplace mechanism) over two
    * granularities of the customer quasi-identifier, with SEQUENTIAL
    * COMPOSITION accounting: the ε=1 budget splits 0.5/0.5 between the
    * per-nation release and the per-(nation, segment) release — the
    * bookkeeping a real privacy pipeline must carry, which
    * [[aggKAnonymity]]'s suppression model doesn't. Noise is
    * inverse-CDF Laplace(1/ε) on a SEEDED md5 uniform — deterministic
    * so the mechanism is oracle-gateable end to end (a production
    * release swaps in real randomness and drops the n_true/noise
    * columns; mechanism, sensitivity-1 counts, and budget math are the
    * real thing). Shape at scale: two map-side-combined hash aggs to
    * model-sized frames; noise is per-GROUP scalar math (seeded on the
    * group key, so re-releases don't average the noise away). */
  def aggDpCounts(spark: SparkSession, dir: String): DataFrame = {
    val epsEach = 0.5 // ε_total = 1.0, split across the two releases
    def release(keyed: DataFrame, level: String): DataFrame = {
      val u = conv(substring(md5(concat(lit("dp|"), col("key"))
        .cast("binary")), 1, 15), 16, 10)
        .cast("double") / lit(1152921504606846976.0)
      val c = u - lit(0.5)
      val noise = -(lit(1.0) / lit(epsEach)) * signum(c) *
        log(lit(1.0) - lit(2.0) * abs(c))
      keyed.select(lit(level).as("level"), col("key"), col("n").as("n_true"),
        r4(noise).as("noise"),
        r4(col("n").cast("double") + noise).as("n_released"),
        lit(epsEach).as("epsilon"))
    }
    val cust = table(spark, dir, "customer")
    val byNation = cust.groupBy(col("c_nationkey").cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
    val byCell = cust.groupBy(concat_ws(":",
        col("c_nationkey").cast("string"), col("c_mktsegment")).as("key"))
      .agg(count(lit(1)).as("n"))
    release(byNation, "nation")
      .unionByName(release(byCell, "nation_segment"))
      .orderBy("level", "key")
  }

  /** Dataset reweighting by RAKING (iterative proportional fitting):
    * per-cell weights that pull the (nation, segment) margins toward
    * UNIFORM targets — the domain-reweighting primitive of
    * training-data mixing (hit target domain shares without
    * resampling), and the classic survey post-stratification. Two full
    * IPF rounds, UNROLLED (row-adjust, column-adjust, ×2): the
    * fixpoint converges geometrically and the unroll keeps the whole
    * computation one declarative plan — no driver loop, and the oracle
    * replays the identical four steps. Shape at scale: corpus
    * collapses once to the |X|·|Y| cell table; every step is a
    * partitioned window over that model-sized frame. Exactness: step-1
    * row sums are exact longs; every later weighted margin sums
    * r6→DECIMAL(18,6) terms (fold-order-free), and the per-row weight
    * chain is the identical IEEE tree both engines before r6. Cells
    * absent from the data stay absent — IPF runs on the observed
    * support. */
  def aggRakingWeights(spark: SparkSession, dir: String): DataFrame = {
    val d186 = org.apache.spark.sql.types.DecimalType(18, 6)
    val cells = table(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("x"), col("c_mktsegment").as("y"))
      .agg(count(lit(1)).as("n"))
    val stats = cells.agg(countDistinct(col("x")).as("nx"),
      countDistinct(col("y")).as("ny"), sum(col("n")).as("tot"))
    val c0 = cells.crossJoin(broadcast(stats))
      .withColumn("tx", col("tot").cast("double") / col("nx").cast("double"))
      .withColumn("ty", col("tot").cast("double") / col("ny").cast("double"))
    val wx = Window.partitionBy("x"); val wy = Window.partitionBy("y")
    def dsumW(e: Column, w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(r6(e).cast(d186)).over(w).cast("double")
    val nD = col("n").cast("double")
    val s4 = c0
      .withColumn("w1", col("tx") / sum(col("n")).over(wx).cast("double"))
      .withColumn("w2", col("w1") * (col("ty") / dsumW(col("w1") * nD, wy)))
      .withColumn("w3", col("w2") * (col("tx") / dsumW(col("w2") * nD, wx)))
      .withColumn("w4", col("w3") * (col("ty") / dsumW(col("w3") * nD, wy)))
    s4.select(col("x"), col("y"), col("n"), r6(col("w4")).as("weight"),
        r4(col("w4") * nD).as("weighted_n"))
      .orderBy("x", "y")
  }

  /** Trimmed and winsorized means per return flag — the robust location
    * estimates a metrics pipeline quotes when [[aggTukeyFences]] says
    * the tails are contaminated: drop outside [P5, P95] (trimmed) or
    * clamp to the bounds (winsorized). Shape at scale: the same
    * two-scan discipline as the fences — quantile bounds ride the
    * (flag, price) CDF aggregate, then ONE more scan with the
    * broadcast bounds; no raw sort. Exactness: bounds are exact
    * decimals (lower-rule quantiles of a decimal domain); all three
    * means are exact decimal sums ÷ counts, r4 at output. */
  def aggTrimmedMean(spark: SparkSession, dir: String): DataFrame = {
    // same bounded-state rank selection as [[aggTukeyFences]]; r16
    // optimization round: the trim/clamp pass aggregates the SAME
    // materialized histogram (Σ_rows f(p) ≡ Σ_hist f(v)·c — exact
    // decimal/long identity for every aggregate here) instead of
    // re-scanning lineitem: one corpus scan total.
    val hist = bucketedHist(
      table(spark, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          col("l_extendedprice").cast(Money).as("v")), 1000.0)
    val q = groupedCumHistOver(hist)
      .groupBy(col("grp").as("flag"))
      .agg(min(when(col("cum") * 20 >= col("tot"), col("v"))).as("p5"),
        min(when(col("cum") * 20 >= col("tot") * 19, col("v"))).as("p95"))
    val inB = col("v") >= col("p5") && col("v") <= col("p95")
    val clamped = when(col("v") < col("p5"), col("p5"))
      .when(col("v") > col("p95"), col("p95")).otherwise(col("v"))
    hist.select(col("grp").as("flag"), col("v"), col("c"))
      .join(broadcast(q), "flag")
      .groupBy("flag")
      .agg(sum(col("c")).as("n"),
        sum(when(inB, col("c")).otherwise(0L)).as("n_kept"),
        r4(sum(col("v") * col("c")).cast("double")
          / sum(col("c")).cast("double")).as("mean_raw"),
        r4(sum(when(inB, col("v") * col("c"))
          .otherwise(lit(0).cast(Money)))
          .cast("double") / sum(when(inB, col("c")).otherwise(0L))
          .cast("double")).as("mean_trimmed"),
        r4(sum(clamped * col("c")).cast("double")
          / sum(col("c")).cast("double")).as("mean_winsorized"))
      .orderBy("flag")
  }

  /** Metric-movement DECOMPOSITION (the "why did revenue move"
    * readout): per event type, the first-half → second-half revenue
    * delta split into volume effect (count change at old mean value),
    * rate effect (mean-value change at old count), and the
    * interaction term — the three sum EXACTLY to the delta, which the
    * output proves by carrying all four. [[eventsMixShift]] quantifies
    * that the mix moved; this attributes the metric move to causes.
    * Shape at scale: one conditional aggregate per (type, half) over
    * the shared data-derived midpoint ([[eventsTwoProportionZ]]'s
    * split), then pure scalar algebra on the ≤|types| frame.
    * Exactness: sums stay decimal; means are exact-sum/count doubles;
    * every effect is the identical IEEE product both engines, r4 at
    * output (the additivity check survives r4 because the four
    * roundings are applied to both engines' identical doubles). */
  def eventsMetricDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val span = ev.agg(min(to_date(col("ts"))).as("d0"),
      max(to_date(col("ts"))).as("d1"))
      .select(expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").as("mid"))
    val g = ev.crossJoin(broadcast(span))
      .groupBy(col("event_type").as("et"),
        when(to_date(col("ts")) <= col("mid"), "A").otherwise("B").as("period"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Qty)).as("s"))
    def side(p: String, c: String) = max(when(col("period") === p, col(c)))
    val wide = g.groupBy("et")
      .agg(side("A", "n").as("n1"), side("A", "s").as("s1"),
        side("B", "n").as("n2"), side("B", "s").as("s2"))
      // a type absent from one half has no well-defined mean there;
      // coalesce counts to 0 and sums to 0 and let the mean guard below
      // drop such rows from decomposition (none exist on the fixtures)
      .filter(col("n1").isNotNull && col("n2").isNotNull)
    val n1d = col("n1").cast("double"); val n2d = col("n2").cast("double")
    val v1 = col("s1").cast("double") / n1d
    val v2 = col("s2").cast("double") / n2d
    val delta = col("s2").cast("double") - col("s1").cast("double")
    val volume = (n2d - n1d) * v1
    val rate = n1d * (v2 - v1)
    val inter = (n2d - n1d) * (v2 - v1)
    wide.select(col("et"), col("n1"), col("n2"),
        r4(v1).as("mean_first"), r4(v2).as("mean_second"),
        r4(delta).as("delta_total"), r4(volume).as("volume_effect"),
        r4(rate).as("rate_effect"), r4(inter).as("interaction"))
      .orderBy("et")
  }

  /** Theil-T inequality index over positive customer balances with the
    * exact within/between decomposition by market segment — the
    * inequality-accounting question (how much dispersion lives INSIDE
    * segments vs BETWEEN them) that Gini ([[eventsGiniPareto]]) can't
    * answer, because only generalized-entropy indices decompose
    * additively. T_total = Σ x·ln(x/μ) / S; T_between = Σ_g (S_g/S)·
    * ln(μ_g/μ); T_within = T_total − T_between (additivity is the
    * theorem, so the difference IS the within term). Shape at scale: one
    * hash agg to the |segments| frame, one broadcast of the one-row
    * global, one per-row ln pass re-aggregated — no window over raw
    * rows, no sort until the ≤|segments| output. Exactness: balances sum
    * as exact decimals; each per-row ln term is r6→DECIMAL(16,6) before
    * the sum (order-independent), the [[aggMutualInfo]] discipline. */
  def aggTheilDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val c = table(spark, dir, "customer")
      .filter(col("c_acctbal") > 0)
      .select(col("c_mktsegment").as("seg"), col("c_acctbal").cast(Qty).as("x"))
    val glob = c.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val withMu = c.crossJoin(broadcast(glob))
      .withColumn("mu", col("s").cast("double") / col("n").cast("double"))
    val rowTerms = withMu
      .select(r6(col("x").cast("double") *
        log(col("x").cast("double") / col("mu"))).cast(d166).as("term"))
      .agg(sum(col("term")).as("t_num"))
    val segs = c.groupBy("seg")
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
      .crossJoin(broadcast(glob))
      .select(r6((col("sg").cast("double") / col("s").cast("double")) *
        log((col("sg").cast("double") / col("ng").cast("double")) /
          (col("s").cast("double") / col("n").cast("double"))))
        .cast(d166).as("bt"))
      .agg(sum(col("bt")).as("t_btw"))
    glob.crossJoin(broadcast(rowTerms)).crossJoin(broadcast(segs))
      .select(col("n"), round(col("s").cast("double"), 2).as("total_bal"),
        r6(col("t_num").cast("double") / col("s").cast("double"))
          .as("theil_total"),
        col("t_btw").cast("double").as("theil_between"),
        r6(col("t_num").cast("double") / col("s").cast("double")
          - col("t_btw").cast("double")).as("theil_within"))
  }

  /** Herfindahl–Hirschman concentration of order revenue per priority
    * class: per o_orderpriority, how concentrated is spend across
    * customers. HHI = Σ share² is computed as (Σ s_i²)/S² with BOTH sums
    * exact decimals — per-term share² at realistic customer counts is
    * ~1e-8 and would be destroyed by per-term rounding, so the identity
    * moves ALL the mass into exact integer-ish arithmetic and spends
    * exactly ONE double division at the end. Shape at scale: two
    * map-side-combined hash aggs (customer×priority, then priority) —
    * no window, no sort until the 5-row output. The effective-competitor
    * count 1/HHI is the number a marketplace-health dashboard shows. */
  def aggHhiConcentration(spark: SparkSession, dir: String): DataFrame = {
    val d182 = org.apache.spark.sql.types.DecimalType(18, 2)
    val per = table(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("prio"), col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(Qty)).as("s"))
    // operands narrowed to DECIMAL(18,2) BEFORE the multiply: the raw
    // DECIMAL(20,2)² result type (41,4) exceeds precision 38 and Spark
    // would silently reduce scale; (18,2)² = (37,4) stays exact in both
    // engines (per-customer revenue ≪ 10^16)
    per.groupBy("prio")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("s")).as("tot"),
        sum(col("s").cast(d182) * col("s").cast(d182)).as("s2"),
        max(col("s")).as("smax"))
      .select(col("prio"), col("n_customers"),
        round(col("tot").cast("double"), 2).as("total_rev"),
        r6(col("s2").cast("double") /
          (col("tot").cast("double") * col("tot").cast("double"))).as("hhi"),
        r4((col("tot").cast("double") * col("tot").cast("double")) /
          col("s2").cast("double")).as("effective_n"),
        r6(col("smax").cast("double") / col("tot").cast("double"))
          .as("top_share"))
      .orderBy("prio")
  }

  /** Per-type daily-count anomaly detection under a Poisson model with a
    * LEAVE-ONE-OUT baseline: each day's rate λ is the mean of every
    * OTHER day (so a spike can't inflate its own baseline — the bias
    * that makes naive z-scores miss exactly the biggest anomalies), and
    * the flag is the normal approximation |n−λ|/√λ > 3. Shape at scale:
    * one hash agg to the (type × day) frame, then per-type one-row
    * totals joined back — the λ math happens on the model-sized daily
    * frame, never on raw events. Exactness: counts are exact longs; λ
    * and z are each ONE double expression from exact longs, r4-rounded
    * identically in both engines. */
  def eventsPoissonAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val tot = daily.groupBy("et")
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("ntot"))
    val z = daily.join(broadcast(tot), "et")
      // nd>1 guard: a single-day type has no leave-one-out baseline, and
      // 0/0 double semantics differ between engines — NULL on both instead
      .withColumn("lam", when(col("nd") > 1,
        (col("ntot") - col("n")).cast("double") /
          (col("nd") - 1).cast("double")))
      .withColumn("z", (col("n").cast("double") - col("lam")) / sqrt(col("lam")))
    z.groupBy("et")
      .agg(max(col("nd")).as("n_days"),
        r4(max(col("ntot")).cast("double") / max(col("nd")).cast("double"))
          .as("mean_daily"),
        sum(when(abs(col("z")) > 3, 1L).otherwise(0L)).as("n_anomalies"),
        r4(max(col("z"))).as("max_z"),
        min(when(abs(col("z")) > 3, dateS(col("d")))).as("first_anomaly_day"))
      .orderBy("et")
  }

  /** Count–min sketch heavy-key estimation with a driver-verified error
    * contract — the [[Relational.aggApproxDistinct]] pattern applied to
    * the OTHER classic streaming sketch: build Spark's native
    * `count_min_sketch` over user_id (one pass, mergeable partials —
    * the 100 TB shape: every executor sketches its split, the driver
    * merges KBs), then probe the top-5 exact-heavy users and emit the
    * sketch's two guarantees as flags the oracle expects TRUE:
    * CMS never under-estimates, and over-estimates by ≤ εN with
    * probability 1−δ (ε=0.001, δ=0.01, seeded — deterministic). The
    * exact side is a second hash agg; only the ≤5-probe result and the
    * KB-sized sketch ever reach the driver. The serve side is the
    * native [[graft.functions.CmsEstimateLong]] expression — the
    * sketch counters ride the plan as a `long[]` reference object and
    * the min-of-hashes probe runs inside whole-stage codegen, so the
    * same spelling scales from this 5-probe audit to estimating EVERY
    * key of a 100 TB stream (the per-row Scala UDF it replaces was the
    * engine's last, r13 VERDICT #1). */
  def aggCountMinHeavy(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val skBytes = ev.select(
        expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("sk"))
      .collect()(0).getAs[Array[Byte]]("sk")
    val (est, nTotal) =
      graft.functions.CmsEstimateLong.fromSketchBytes(col("user_id"), skBytes)
    ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(desc("n_exact"), col("user_id")).limit(5)
      .withColumn("e", est)
      .select(col("user_id"), col("n_exact"),
        (col("e") >= col("n_exact")).as("never_under"),
        (col("e") <= col("n_exact") + lit(math.ceil(0.001 * nTotal).toLong))
          .as("within_eps"))
      .orderBy(desc("n_exact"), col("user_id"))
  }

  /** STL-style decomposition of the daily event-count series into
    * trend + day-of-week seasonal + residual — the additive
    * decomposition behind every "is this dip real or just Sunday"
    * question ([[eventsSeasonalBaseline]] compares week-over-week; this
    * SEPARATES the components so the residual is directly alertable).
    * Trend is the centered 7-day moving average (partial at the series
    * edges); the seasonal term is the per-DOW mean detrended deviation;
    * residual = n − trend − seasonal. Shape at scale: the corpus
    * collapses to the ≤|days| daily frame FIRST — the window and both
    * small joins run over the model-sized series, never raw events.
    * Exactness: counts exact longs, trend one exact-int division,
    * per-DOW deviations r6→DECIMAL(16,6) before their mean (the
    * order-independence discipline). */
  def eventsStlDecompose(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val daily = table(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val w7 = Window.orderBy("d").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend",
        sum(col("n")).over(w7).cast("double") /
          count(lit(1)).over(w7).cast("double"))
      .withColumn("dow", dayofweek(col("d")))
    val seasonal = trended
      .select(col("dow"),
        r6(col("n").cast("double") - col("trend")).cast(d166).as("dev"))
      .groupBy("dow")
      .agg((sum(col("dev")).cast("double") /
        count(lit(1)).cast("double")).as("seasonal"))
    trended.join(broadcast(seasonal), "dow")
      .select(dateS(col("d")).as("day_s"), col("n"),
        r4(col("trend")).as("trend"),
        r4(col("seasonal")).as("seasonal"),
        r4(col("n").cast("double") - col("trend") - col("seasonal"))
          .as("residual"))
      .orderBy("day_s")
  }

  /** Difference-in-differences uplift estimate — the causal-inference
    * spelling of "did the second period move the TREATED group more
    * than the control": purchase-value means for the 2×2 of
    * (user_id parity as treatment) × (first/second half of the span),
    * DiD = (T_post−T_pre) − (C_post−C_pre), shown against the naive
    * post-only difference it corrects ([[eventsAbTtest]] tests one
    * period; this nets out the shared time trend). The split and
    * midpoint are deterministic (parity, data-derived median date — the
    * [[eventsMetricDecomposition]] midpoint), so the whole design is
    * oracle-replayable. One conditional hash agg over the scan to a
    * 4-cell frame; means are exact decimal sums ÷ counts. */
  def eventsUpliftDid(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").cast(Qty).as("v"),
        to_date(col("ts")).as("d"))
    val mid = ev.agg(date_add(min(col("d")),
      floor(datediff(max(col("d")), min(col("d"))) / 2).cast("int")).as("mid"))
    val cells = ev.crossJoin(broadcast(mid))
      .withColumn("grp", when(col("user_id") % 2 === 0, "T").otherwise("C"))
      .withColumn("period", when(col("d") <= col("mid"), "pre").otherwise("post"))
      .groupBy("grp", "period")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .withColumn("mean", col("s").cast("double") / col("n").cast("double"))
    val wide = cells.groupBy()
      .pivot(concat(col("grp"), lit("_"), col("period")),
        Seq("T_pre", "T_post", "C_pre", "C_post"))
      .agg(first(col("mean")))
    wide.select(
      r4(col("T_pre")).as("t_pre"), r4(col("T_post")).as("t_post"),
      r4(col("C_pre")).as("c_pre"), r4(col("C_post")).as("c_post"),
      r6((col("T_post") - col("T_pre")) - (col("C_post") - col("C_pre")))
        .as("did_effect"),
      r6(col("T_post") - col("C_post")).as("naive_post_diff"))
  }

  /** A/B power analysis — the PRE-experiment half of the suite
    * ([[eventsAbTtest]] / [[eventsTwoProportionZ]] / [[eventsConversionCi]]
    * judge a finished test; this says whether the test is worth running):
    * from the observed baseline conversion (control arm of the parity
    * split), the required sample size per arm for a two-sided α=0.05,
    * power-0.80 two-proportion z test at relative lifts of 5/10/20%, and
    * whether the CURRENT arm size is already powered. Closed-form normal
    * approximation with the z constants as literals — one hash agg to
    * (users, converters) per arm, a 3-row lift grid exploded from a
    * literal array, one double expression per row. Exactness: the
    * baseline rate is an exact-int ratio; `ceil` of the composite is the
    * only boundary op and both engines evaluate the identical IEEE
    * expression. */
  def eventsPowerAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    // conversion = "high-value customer" (per-user purchase sum > 800) —
    // NOT "made any purchase", which saturates to p0 = 1.0 on this
    // corpus and leaves nothing testable (every n_req NULL — vacuous)
    val perUser = ev
      .withColumn("grp", when(col("user_id") % 2 === 0, "T").otherwise("C"))
      .groupBy("grp", "user_id")
      .agg(sum(when(col("event_type") === "purchase",
        col("value").cast(Qty)).otherwise(lit(0).cast(Qty))).as("spend"))
    val arms = perUser.groupBy("grp")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("spend") > 800, 1L).otherwise(0L)).as("n_conv"))
    val base = arms.filter(col("grp") === "C")
      .select(col("n_users").as("n_c"), col("n_conv").as("k_c"))
    val zA = 1.959964 // z_{0.025}
    val zB = 0.841621 // z_{0.20}
    base.select(col("n_c"), col("k_c"),
        explode(array(lit(0.05), lit(0.10), lit(0.20))).as("lift"))
      .withColumn("p0", col("k_c").cast("double") / col("n_c").cast("double"))
      .withColumn("p1", col("p0") * (lit(1.0) + col("lift")))
      .withColumn("pbar", (col("p0") + col("p1")) / 2.0)
      // saturation guard: a near-1 baseline puts the lifted target past
      // 1.0, where the variance terms go negative (Spark sqrt → NaN
      // silently, DuckDB errors) — NULL on both engines says "this lift
      // is not testable from this baseline", which is the true answer
      .withColumn("n_req", when(col("p1") < 1.0 && col("p0") > 0.0, ceil(
        {
          val num = lit(zA) * sqrt(lit(2.0) * col("pbar") * (lit(1.0) - col("pbar"))) +
            lit(zB) * sqrt(col("p0") * (lit(1.0) - col("p0")) +
              col("p1") * (lit(1.0) - col("p1")))
          (num * num) / ((col("p1") - col("p0")) * (col("p1") - col("p0")))
        }).cast("long")))
      .select(r4(col("lift")).as("rel_lift"),
        r6(col("p0")).as("p_base"), r6(col("p1")).as("p_target"),
        col("n_req").as("n_required_per_arm"),
        col("n_c").as("n_available_per_arm"),
        (col("n_c") >= col("n_req")).as("powered"))
      .orderBy("rel_lift")
  }

  /** Two-component Gaussian-mixture EM over event values — distributed
    * unsupervised density estimation, the classic "is this one
    * population or two" question (here: small-basket vs large-basket
    * purchase values), run as THREE fixed EM rounds. Like
    * [[graft.ops.Vector.embeddingPcaPower]], the iteration is
    * matrix-free and data-side: each round is ONE scan computing the
    * responsibility-weighted moment sums (Σr, Σrx, Σrx²) per component
    * as six map-side-combined aggregates; driver state is the 5-number
    * parameter vector (the Lloyd discipline). Fixed rounds + a
    * moments-derived deterministic init (μ = mean/2 and 2·mean, shared
    * σ, equal weights) keep the whole computation oracle-replayable
    * CTE-for-CTE. Determinism: responsibilities and their x/x²
    * products are floor-rounded at 1e-6 into DECIMAL sums
    * (order-independent); parameters re-derive from identical sums on
    * both engines, so every round's exp() inputs are bit-identical.
    * Near-zero densities (both components underflow) pin r to 0.5 on
    * both engines. */
  def aggEmMixture(spark: SparkSession, dir: String): DataFrame = {
    val d206 = org.apache.spark.sql.types.DecimalType(20, 6)
    val xs = table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("value").cast(Qty).as("xd"))
      .select(col("xd").cast("double").as("x"), col("xd"))
    // deterministic moment init: exact decimal sums → doubles
    val m0 = xs.agg(count(lit(1)).as("n"), sum(col("xd")).as("s"),
        sum((col("xd") * col("xd")).cast(d206)).as("ss"))
      .collect()(0)
    val n = m0.getAs[Long]("n")
    val mean = m0.getAs[java.math.BigDecimal]("s").doubleValue / n
    val varAll = m0.getAs[java.math.BigDecimal]("ss").doubleValue / n - mean * mean
    var (w1, mu1, mu2) = (0.5, mean / 2.0, mean * 2.0)
    var (s1, s2) = (math.sqrt(varAll), math.sqrt(varAll))
    for (_ <- 1 to 3) {
      def dens(w: Double, mu: Double, sg: Double) =
        lit(w) / lit(sg) * exp((col("x") - lit(mu)) * (col("x") - lit(mu)) /
          lit(-2.0 * sg * sg))
      val d1 = dens(w1, mu1, s1); val d2 = dens(1.0 - w1, mu2, s2)
      val r = r6(when(d1 + d2 > 0d, d1 / (d1 + d2)).otherwise(lit(0.5)))
      val row = xs
        .select(col("x"), r.as("r"))
        .agg(
          sum(col("r").cast(d206)).as("r1"),
          sum(r6(col("r") * col("x")).cast(d206)).as("rx1"),
          sum(r6(col("r") * col("x") * col("x")).cast(d206)).as("rxx1"),
          sum((lit(1.0) - col("r")).cast(d206)).as("r2"),
          sum(r6((lit(1.0) - col("r")) * col("x")).cast(d206)).as("rx2"),
          sum(r6((lit(1.0) - col("r")) * col("x") * col("x")).cast(d206))
            .as("rxx2"))
        .collect()(0)
      def g(k: String) = row.getAs[java.math.BigDecimal](k).doubleValue
      val (n1, n2) = (g("r1"), g("r2"))
      w1 = n1 / (n1 + n2)
      mu1 = g("rx1") / n1; mu2 = g("rx2") / n2
      s1 = math.sqrt(math.max(g("rxx1") / n1 - mu1 * mu1, 1e-6))
      s2 = math.sqrt(math.max(g("rxx2") / n2 - mu2 * mu2, 1e-6))
    }
    import spark.implicits._
    Seq((n,
      math.floor(w1 * 1e6 + 0.5) / 1e6,
      math.floor(mu1 * 1e4 + 0.5) / 1e4, math.floor(s1 * 1e4 + 0.5) / 1e4,
      math.floor(mu2 * 1e4 + 0.5) / 1e4, math.floor(s2 * 1e4 + 0.5) / 1e4))
      .toDF("n", "w1", "mu1", "sigma1", "mu2", "sigma2")
  }

  /** Poisson(1) cumulative distribution P(X ≤ k) for k = 0..6 — the
    * inverse-CDF thresholds of the Poisson bootstrap. Spelled once and
    * interpolated verbatim into the oracle so both engines compare the
    * identical double literals. */
  private val PoissonCum = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167588507119")

  /** Poisson-bootstrap confidence interval for the mean order value —
    * the CLUSTER-NATIVE bootstrap: classical resampling draws N rows
    * with replacement B times (a shuffle per replicate, undistributable
    * at 100 TB), while the Poisson bootstrap gives every row an
    * independent Poisson(1) weight per replicate, so all B = 200
    * resamples ride ONE scan with map-side combine down to B
    * partial-sum rows — the shuffle is 200 rows regardless of input
    * size, and no replicate ever materializes. Weights come from a
    * seeded md5 uniform through the inverse Poisson CDF
    * ([[PoissonCum]] thresholds, identical double literals both
    * engines; tail mass ≥ 7 truncated — P ≈ 8e-5, the standard
    * finite-table truncation). Replicate means divide exact
    * long-cents weighted sums, so every double ranked downstream is
    * bit-identical; CI bounds are explicit empirical percentiles —
    * the rank-5 and rank-195 of the 200 replicate means under
    * (mean, b) ordering (ceil(0.025·B), ceil(0.975·B)) — no
    * engine-specific quantile interpolation.
    *
    * Two measured hot-path choices (r11, 11.8 s → see BENCH_r11):
    * ONE md5 per (row, block of 4 replicates) — the 128-bit digest
    * yields four independent 32-bit uniforms (hex chars 1-8, 9-16,
    * 17-24, 25-32), quartering the dominant hash+conv cost; and the
    * weighted sums ride exact LONG CENTS ((x·100) is exact for a
    * 2-dp decimal) instead of DECIMAL(38,2), keeping the 30M-row
    * partial agg in long-adder codegen. Overflow headroom: w ≤ 7,
    * cents ≤ ~6e7, so Σw·cents ≈ 4e8·n_rows — at 1.5e10 orders
    * (100 TB) that is ~3e17, inside int64. */
  def aggBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val B = 200
    val o = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice").cast(Money).as("x"))
      .withColumn("xc", (col("x") * 100).cast("long"))
    // The B-way explode multiplies ROWS, not input splits: a compact
    // base table (one row group → one scan partition locally; at 100 TB
    // a handful of splits per file) would leave the ~n·B weight rows on
    // a few cores. Spread the slim (key, x) projection across the
    // cluster BEFORE the explode — a narrow n-row shuffle that buys
    // B·n-row parallelism (measured at sf0.1: 36 s → ~1.5 s, the
    // single-row-group scan serialized the md5 pass on one core).
    val ob = o.repartition(spark.sparkContext.defaultParallelism)
    val w = PoissonCum.zipWithIndex.reverse.foldLeft(lit(7): Column) {
      case (acc, (t, k)) => when(col("u") < lit(t.toDouble), lit(k))
        .otherwise(acc)
    }
    val means = ob
      .select(col("o_orderkey"), col("xc"),
        explode(sequence(lit(0), lit(B / 4 - 1))).as("g"))
      .withColumn("h", md5(concat_ws("|", lit("boot"),
        col("o_orderkey"), col("g")).cast("binary")))
      .select(col("xc"), col("g"),
        posexplode(array(substring(col("h"), 1, 8),
          substring(col("h"), 9, 8), substring(col("h"), 17, 8),
          substring(col("h"), 25, 8))).as(Seq("j", "us")))
      .withColumn("b", col("g") * 4 + col("j"))
      .withColumn("u",
        conv(col("us"), 16, 10).cast("double") / lit(4294967296.0))
      .withColumn("w", w)
      .groupBy(col("b"))
      .agg(sum(col("w").cast("long") * col("xc")).as("swx"),
        sum(col("w").cast("long")).as("sw"))
      .select(col("b"),
        ((col("swx").cast("double") / col("sw").cast("double")) /
          lit(100.0)).as("mean_b"))
    // B=200 aggregated rows — the unpartitioned rank is model-sized.
    // Both CI bounds come out of ONE conditional agg over the ranked
    // frame: two filter branches would each re-execute the full
    // replicate pipeline (plans compose; results don't).
    val ranked = means.withColumn("rn",
      row_number().over(Window.orderBy(col("mean_b"), col("b"))))
    val lohi = ranked.filter(col("rn") === 5 || col("rn") === 195)
      .agg(min(when(col("rn") === 5, col("mean_b"))).as("lo"),
        max(when(col("rn") === 195, col("mean_b"))).as("hi"))
    val pt = o.agg(count(lit(1)).as("n"),
      sum(col("x")).cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("sx"))
    pt.crossJoin(broadcast(lohi))
      .select(col("n"),
        r4(col("sx").cast("double") / col("n").cast("double"))
          .as("point_mean"),
        r4(col("lo")).as("ci_lo"), r4(col("hi")).as("ci_hi"),
        r4(col("hi") - col("lo")).as("ci_width"),
        lit(B.toLong).as("n_boot"))
  }

  /** Multiple linear regression l_extendedprice ~ l_quantity +
    * l_discount via ONE-SCAN Gram-matrix moments — the closed-form
    * normal-equations solve that [[aggCorrRegression]]'s single-feature
    * OLS doesn't cover. The scan computes the ten sufficient statistics
    * (n, Σq, Σd, Σy, Σq², Σd², Σqd, Σqy, Σdy, Σy²) as exact
    * DECIMAL(38,8) sums (2-dp inputs → 4-dp products, order-independent
    * across any partitioning), then the 3×3 solve is Cramer's rule
    * spelled as the IDENTICAL double expression tree in both engines —
    * no iteration, no driver state, model-sized output. This is the
    * 100 TB regression shape: sufficient statistics distribute, the
    * solve is O(p³) scalar math. Degenerate design (|det| = 0) yields
    * NULL coefficients on both engines. */
  def aggOlsMulti(spark: SparkSession, dir: String): DataFrame = {
    val d388 = org.apache.spark.sql.types.DecimalType(38, 8)
    val li = table(spark, dir, "lineitem").select(
      col("l_quantity").cast(Qty).as("q"),
      col("l_discount").cast(Qty).as("d"),
      col("l_extendedprice").cast(Money).as("y"))
    val s = li.agg(
      count(lit(1)).as("n"),
      sum(col("q").cast(d388)).as("sq"),
      sum(col("d").cast(d388)).as("sd"),
      sum(col("y").cast(d388)).as("sy"),
      sum((col("q") * col("q")).cast(d388)).as("sqq"),
      sum((col("d") * col("d")).cast(d388)).as("sdd"),
      sum((col("q") * col("d")).cast(d388)).as("sqd"),
      sum((col("q") * col("y")).cast(d388)).as("sqy"),
      sum((col("d") * col("y")).cast(d388)).as("sdy"),
      sum((col("y") * col("y")).cast(d388)).as("syy"))
    val dbl = s.select(col("n") +:
      Seq("sq", "sd", "sy", "sqq", "sdd", "sqd", "sqy", "sdy", "syy")
        .map(c => col(c).cast("double").as(c)): _*)
      .withColumn("nd", col("n").cast("double"))
    def c(n: String) = col(n)
    // Cramer's rule, first-row cofactor expansion — the same
    // parenthesization as the oracle so the IEEE ops match 1:1
    val det = c("nd") * (c("sqq") * c("sdd") - c("sqd") * c("sqd")) -
      c("sq") * (c("sq") * c("sdd") - c("sqd") * c("sd")) +
      c("sd") * (c("sq") * c("sqd") - c("sqq") * c("sd"))
    val det0 = c("sy") * (c("sqq") * c("sdd") - c("sqd") * c("sqd")) -
      c("sq") * (c("sqy") * c("sdd") - c("sqd") * c("sdy")) +
      c("sd") * (c("sqy") * c("sqd") - c("sqq") * c("sdy"))
    val det1 = c("nd") * (c("sqy") * c("sdd") - c("sqd") * c("sdy")) -
      c("sy") * (c("sq") * c("sdd") - c("sqd") * c("sd")) +
      c("sd") * (c("sq") * c("sdy") - c("sqy") * c("sd"))
    val det2 = c("nd") * (c("sqq") * c("sdy") - c("sqy") * c("sqd")) -
      c("sq") * (c("sq") * c("sdy") - c("sqy") * c("sd")) +
      c("sy") * (c("sq") * c("sqd") - c("sqq") * c("sd"))
    val sol = dbl.select(col("n"), col("nd"), col("sy"), col("sqy"),
      col("sdy"), col("syy"),
      det.as("det"),
      (det0 / det).as("b0"), (det1 / det).as("b1"), (det2 / det).as("b2"))
    // fp cancellation can push SSE a hair negative on a near-exact fit;
    // clamp with the same greatest() both engines before sqrt/ratio
    val sse = greatest(c("syy") - c("b0") * c("sy") - c("b1") * c("sqy") -
      c("b2") * c("sdy"), lit(0.0))
    val sst = c("syy") - c("sy") * c("sy") / c("nd")
    val ok = abs(c("det")) > lit(0.0)
    sol.select(col("n"),
      r4(when(ok, c("b0"))).as("b_intercept"),
      r4(when(ok, c("b1"))).as("b_quantity"),
      r4(when(ok, c("b2"))).as("b_discount"),
      r6(when(ok, lit(1.0) - sse / sst)).as("r2"),
      r4(when(ok, sqrt(sse / c("nd")))).as("rmse"))
  }

  /** Spearman rank correlation between l_quantity and l_discount — the
    * monotonic-association twin of [[aggCorrRegression]]'s Pearson,
    * robust to outliers and nonlinearity. Scale shape: NO global sort —
    * average ranks come off the VALUE HISTOGRAM (one hash agg per
    * variable; distinct cardinality is domain-bounded: ~50 quantities,
    * 11 discounts), cumulated on that model-sized frame and
    * broadcast-joined back, so the raw scan never shuffles by value.
    * Exactness: the tie-average rank r̄ is a half-integer, so DOUBLED
    * ranks 2r̄ = 2·cum − c + 1 are exact integers; every moment is an
    * exact DECIMAL sum of their products ((18,0)² = (37,0) stays inside
    * precision 38 to ~1.4e9 rows per the Σ(2n)²·n ≈ 4n³ headroom), and
    * rho is ONE double expression from those sums, r6 at output. */
  def aggSpearman(spark: SparkSession, dir: String): DataFrame = {
    val d180 = org.apache.spark.sql.types.DecimalType(18, 0)
    val li = table(spark, dir, "lineitem")
      .select(col("l_quantity").cast(Qty).as("x"),
        col("l_discount").cast(Qty).as("y"))
    def ranks(v: String, r2: String) = {
      val h = li.groupBy(v).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(v)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("cum", sum(col("c")).over(w))
        .select(col(v), (col("cum") * 2 - col("c") + 1).as(r2))
    }
    val j = li.join(broadcast(ranks("x", "r2x")), "x")
      .join(broadcast(ranks("y", "r2y")), "y")
    val s = j.agg(count(lit(1)).as("n"),
      sum(col("r2x").cast(d180)).as("su"),
      sum(col("r2y").cast(d180)).as("sv"),
      sum(col("r2x").cast(d180) * col("r2y").cast(d180)).as("suv"),
      sum(col("r2x").cast(d180) * col("r2x").cast(d180)).as("suu"),
      sum(col("r2y").cast(d180) * col("r2y").cast(d180)).as("svv"))
    // every moment passes 2^53 unscaled at large n — bridge via
    // [[dec2d]] so both engines see identical doubles
    def d(cn: String) = dec2d(col(cn), 0)
    val nD = col("n").cast("double")
    val cov = nD * d("suv") - d("su") * d("sv")
    val vu = nD * d("suu") - d("su") * d("su")
    val vv = nD * d("svv") - d("sv") * d("sv")
    s.select(col("n"),
      r6(when(vu > 0 && vv > 0, cov / (sqrt(vu) * sqrt(vv))))
        .as("rho_spearman"))
  }

  /** One-way ANOVA of o_totalprice across the five order priorities —
    * the k-group generalization [[eventsAbTtest]]'s two-sample t can't
    * express: F = (SSB/(k−1))/(SSW/(N−k)) plus the effect size η² =
    * SSB/SST. Shape at scale: sufficient statistics per group (n, Σx,
    * Σx² as exact decimals) off ONE scan; the sum-of-squares algebra
    * runs on the ≤k-row frame. The per-group term Σx_g²/n_g is a
    * double, so it is floored→DECIMAL(38,0) before the cross-group sum
    * — the order-independence discipline for double terms. The floor
    * runs IN DOUBLE (tq − tq % 1.0, exact fmod — see the inline note):
    * Spark's floor() returns LONG and silently corrupts past ~9.2e18
    * dollars², which the term reaches before the design scale; the SS
    * outputs are reported in millions for readability. */
  def aggAnovaF(spark: SparkSession, dir: String): DataFrame = {
    val d180 = org.apache.spark.sql.types.DecimalType(18, 0)
    val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
    // integer-cent values: Σcents is a long, Σcents² an exact (38,0)
    // decimal bridged via [[dec2d]]; the per-group square term is
    // quantized to INTEGER dollars² (floor(t+0.5) — a long) so the
    // cross-group sum is exact and bridgeable too. Plain double casts
    // of any of these pass 2^53 before 100 TB and diverge by an ulp
    // between engines (the dec2d class).
    val g = table(spark, dir, "orders")
      .select(col("o_orderpriority").as("grp"),
        (col("o_totalprice").cast(Money) * 100).cast("long").as("xc"))
      .groupBy("grp")
      .agg(count(lit(1)).as("ng"), sum(col("xc")).as("sxc"),
        sum(col("xc").cast(d180) * col("xc").cast(d180)).as("sxx"))
    val sxg = col("sxc").cast("double") / lit(100.0)
    // per-group term floored IN DOUBLE (tq − tq % 1.0): Spark's floor()
    // returns LONG and silently corrupts past ~9.2e18 dollars² — reached
    // before 100 TB — while fmod is exact and x − frac(x) = floor(x) is
    // exactly representable, so this spelling matches DuckDB's
    // double-domain floor at ANY magnitude (above 2^53 frac is exactly
    // 0 in both engines); the integer-valued double then casts exactly
    // into DECIMAL(38,0) for the cross-group exact sum
    val t = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("sxc")).as("sxc"), sum(col("sxx")).as("sxx"),
      sum({
        val tq = sxg * sxg / col("ng").cast("double") + lit(0.5)
        (tq - tq % lit(1.0)).cast(d380)
      }).as("sbi"))
    def d(cn: String) = col(cn).cast("double")
    val sxD = d("sxc") / lit(100.0)
    val grand = sxD * sxD / d("n")
    val ssb = dec2d(col("sbi"), 0) - grand
    val sst = dec2d(col("sxx"), 4) - grand
    val ssw = sst - ssb
    val df1 = (col("k") - 1).cast("double")
    val df2 = (col("n") - col("k")).cast("double")
    t.select(col("k"), col("n"),
      r4(ssb / lit(1e6)).as("ssb_millions"),
      r4(ssw / lit(1e6)).as("ssw_millions"),
      r4(when(df1 > 0 && df2 > 0 && ssw > 0,
        (ssb / df1) / (ssw / df2))).as("f_stat"),
      r6(when(sst > 0, ssb / sst)).as("eta_sq"))
  }

  /** Kendall's τ-b between per-order quantity and revenue on a
    * HASH-PRIORITY sample — the pair-quadratic statistic done the only
    * way it survives 100 TB: the estimator's cost is fixed by an
    * ABSOLUTE unit cap (lowest 1000 ORDERS by md5(orderkey), the
    * [[PipelineOps.tokenBudgetSample]] priority discipline — fully
    * deterministic, engine-independent, and monotone in the cap), so
    * the pair space is ≤ cap²/2 ≈ 5e5 regardless of input size. The
    * sampling unit is the per-orderkey aggregate, NOT the raw line:
    * this corpus duplicates (orderkey, linenumber) with different
    * values, so only the grouped frame has the unique key a
    * deterministic ORDER BY…LIMIT needs. Pairing joins on a constant
    * key with the a<b predicate — an equi-join the planner hashes,
    * NOT a CartesianProduct — and every concordant/discordant/tie
    * count is an exact long; τ-b is one double expression from them,
    * r6 at output. */
  def aggKendallTau(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("uk"))
      .agg(sum(col("l_quantity").cast(Qty)).as("x"),
        sum(col("l_extendedprice").cast(Money)).as("y"))
      .withColumn("pri", md5(col("uk").cast("string").cast("binary")))
      .orderBy(col("pri"), col("uk")).limit(1000)
      .select(col("uk"), col("x"), col("y"), lit(1).as("one"))
    val a = s.select(col("one"), col("uk").as("uka"),
      col("x").as("xa"), col("y").as("ya"))
    val b = s.select(col("one"), col("uk").as("ukb"),
      col("x").as("xb"), col("y").as("yb"))
    val p = a.join(broadcast(b), Seq("one")).filter(col("uka") < col("ukb"))
    val dx = when(col("xa") > col("xb"), 1).when(col("xa") < col("xb"), -1)
      .otherwise(0)
    val dy = when(col("ya") > col("yb"), 1).when(col("ya") < col("yb"), -1)
      .otherwise(0)
    val c = p.select(dx.as("dx"), dy.as("dy"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dx") * col("dy") === 1, 1L).otherwise(0L)).as("nc"),
        sum(when(col("dx") * col("dy") === -1, 1L).otherwise(0L)).as("nd"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tie_x"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("tie_y"))
    def d(cn: String) = col(cn).cast("double")
    val den = sqrt((d("n_pairs") - d("tie_x")) * (d("n_pairs") - d("tie_y")))
    c.select(col("n_pairs"), col("nc"), col("nd"),
      col("tie_x"), col("tie_y"),
      r6(when(den > 0, (d("nc") - d("nd")) / den)).as("tau_b"))
  }

  /** Trig lookup for [[eventsPeriodogram]]: (phase, cos, sin) at the
    * P-th roots of unity, computed ONCE in Scala and embedded in BOTH
    * engines — the Spark side as a broadcast literal frame, the oracle
    * as a VALUES list via Double.toString (which round-trips exactly,
    * so both engines hold bit-identical doubles). A libm cos/sin call
    * per row would differ in ulps across engines; a shared literal
    * table cannot. */
  private def trigTable(p: Int): Seq[(Int, Double, Double)] =
    (0 until p).map { k =>
      val th = 2.0 * math.Pi * k / p
      (k, math.cos(th), math.sin(th))
    }

  private def trigValuesSql(p: Int): String =
    trigTable(p).map { case (k, c, s) => s"($k, $c, $s)" }.mkString(", ")

  /** Schuster periodogram of hourly event counts at the daily (24 h)
    * and weekly (168 h) periods — "is there a real diurnal/weekly
    * cycle, and how much variance does it explain?", the spectral
    * readout behind seasonal baselining. For each period P: a = Σ(n_t
    * − mean)·cos(2πt/P), b = the sine twin, amplitude 2√(a²+b²)/N and
    * variance share 2(a²+b²)/(N·SST). Shape at scale: ONE hash agg to
    * the hourly frame; each period is a broadcast join against its
    * P-row literal trig table ([[trigTable]] — shared literals, no
    * libm divergence) and an exact-decimal reduce: the per-hour terms
    * are r6→DECIMAL(18,6) (counts to ~9e12/hour stay inside floor's
    * int64), and SST comes from exact Σn/Σn² — no double is ever
    * summed unquantized. */
  def eventsPeriodogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d180 = org.apache.spark.sql.types.DecimalType(18, 0)
    val d186 = org.apache.spark.sql.types.DecimalType(18, 6)
    val hr = table(spark, dir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
    val tot = hr.agg(sum(col("n")).as("sn"), count(lit(1)).as("nh"),
      sum(col("n").cast(d180) * col("n").cast(d180)).as("snn"))
    def onePeriod(p: Int): DataFrame = {
      val trig = spark.createDataset(trigTable(p)).toDF("k", "c", "s")
      val mean = col("sn").cast("double") / col("nh").cast("double")
      val terms = hr.crossJoin(broadcast(tot))
        .withColumn("k", (col("h") % p).cast("int"))
        .join(broadcast(trig), "k")
        .select(
          r6((col("n").cast("double") - mean) * col("c")).cast(d186).as("tc"),
          r6((col("n").cast("double") - mean) * col("s")).cast(d186).as("ts"))
        .agg(sum(col("tc")).as("sa"), sum(col("ts")).as("sb"))
      terms.crossJoin(broadcast(tot)).select(
        lit(p.toLong).as("period_hours"), col("nh").as("n_hours"),
        col("sa").cast("double").as("a_cos"),
        col("sb").cast("double").as("b_sin"),
        col("sn"), col("snn"))
    }
    val u = onePeriod(24).unionByName(onePeriod(168))
    def d(cn: String) = col(cn).cast("double")
    // Σn² is a (38,0) decimal whose unscaled value passes 2^53 before
    // 100 TB — bridge via [[dec2d]] (a plain cast diverges by an ulp
    // between engines there; Σn itself is an exact long, safe to cast)
    val sst = dec2d(col("snn"), 0) - d("sn") * d("sn") / d("n_hours")
    val pw = col("a_cos") * col("a_cos") + col("b_sin") * col("b_sin")
    u.select(col("period_hours"), col("n_hours"),
        r4(d("sn") / d("n_hours")).as("mean_per_hour"),
        r4(col("a_cos")).as("a_cos"), r4(col("b_sin")).as("b_sin"),
        r4(lit(2.0) * sqrt(pw) / d("n_hours")).as("amplitude"),
        r6(when(sst > 0,
          lit(2.0) * pw / (d("n_hours") * sst))).as("var_share"))
      .orderBy("period_hours")
  }

  /** Granger-style lead-lag F-test between the daily click and
    * purchase series, BOTH directions — "does yesterday's click volume
    * predict today's purchases beyond purchases' own momentum?" (and
    * the reverse), the causality-screen companion to
    * [[eventsAutocorrelation]]. Per direction: restricted OLS y_t ~
    * y_{t−1} vs unrestricted adding x_{t−1}; F = (RSS_r − RSS_u)(n−3)
    * /RSS_u via centered closed forms from TEN exact decimal sums
    * (counts are ints; (18,0)² products stay inside precision 38) —
    * the [[aggOlsMulti]] discipline, no iteration, no driver state.
    * Observed-day gaps are treated as consecutive observations (lags
    * skip calendar holes); both directions ride the same pivoted
    * daily frame. */
  def eventsGranger(spark: SparkSession, dir: String): DataFrame = {
    val d180 = org.apache.spark.sql.types.DecimalType(18, 0)
    val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = table(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("nx"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("ny"))
    val ord = Window.orderBy("d")
    val lagged = daily
      .withColumn("lx", lag(col("nx"), 1).over(ord))
      .withColumn("ly", lag(col("ny"), 1).over(ord))
      .filter(col("lx").isNotNull)
    // r16 optimization round: both directions read the SAME 14 moment
    // sums, so they are aggregated ONCE over the lagged daily frame —
    // the old per-direction agg re-derived the events scan + daily
    // groupBy + lag window twice for one query. Each direction's
    // regression arithmetic below is the identical IEEE tree on the
    // identical decimal sums (products are commutative-exact in
    // decimal, so slx ≡ direction 2's l·x = lx·ly reuses Σ(ly·lx)).
    def pc(a: String, b: String) =
      sum((col(a).cast(d180) * col(b).cast(d180)).cast(d380))
    val s = lagged.agg(count(lit(1)).as("n"),
      sum(col("ny").cast(d180)).as("s_ny"),
      sum(col("nx").cast(d180)).as("s_nx"),
      sum(col("ly").cast(d180)).as("s_ly"),
      sum(col("lx").cast(d180)).as("s_lx"),
      pc("ny", "ny").as("q_ny"), pc("nx", "nx").as("q_nx"),
      pc("ly", "ly").as("q_ly"), pc("lx", "lx").as("q_lx"),
      pc("ly", "ny").as("p_ly_ny"), pc("lx", "ny").as("p_lx_ny"),
      pc("ly", "lx").as("p_ly_lx"), pc("lx", "nx").as("p_lx_nx"),
      pc("ly", "nx").as("p_ly_nx"))
    // the one-row moment frame is MATERIALIZED (iterCheckpoint) so the
    // two direction selects below replay from it instead of each
    // re-deriving the scan+agg subtree; keeping them as separate
    // selects (not one explode-of-structs) also keeps each codegen
    // unit at one direction's dec2d expression mass
    val sM = iterCheckpoint(s)
    // The regression arithmetic is STAGED through layered selects (r16
    // optimization round): the single-expression spelling inlined every
    // covariance tree (each holding a ~100-node dec2d limb bridge) into
    // det/b1/b2/rssU/f_stat — an exponential expression blowup that put
    // the analyzed tree near 10^5 nodes (417 KB of plan text, ~1.2 s of
    // ANALYSIS and multi-second codegen per run). Each stage computes a
    // value once as a column; CollapseProject keeps staged projections
    // apart when merging would duplicate non-cheap expressions, so the
    // tree stays linear. The IEEE operations and their order are
    // IDENTICAL — only the tree sharing changes.
    def direction(label: String, sy: String, sl: String, sx: String,
        syy: String, sll: String, sxx: String,
        sly: String, sxy: String, slx: String): DataFrame = {
      // the (38,0) product sums pass 2^53 unscaled before 100 TB —
      // bridge via [[dec2d]]; the linear sums ride long→double (exact
      // int64 cast, the oracle's CAST(sum AS BIGINT) twin)
      def dd(cn: String) = dec2d(col(cn), 0)
      def dl(cn: String) = col(cn).cast("long").cast("double")
      val nD = col("n").cast("double")
      val cov = sM.select(col("n"),
        (dd(syy) - dl(sy) * dl(sy) / nD).as("cyy"),
        (dd(sll) - dl(sl) * dl(sl) / nD).as("c11"),
        (dd(sxx) - dl(sx) * dl(sx) / nD).as("c22"),
        (dd(slx) - dl(sl) * dl(sx) / nD).as("c12"),
        (dd(sly) - dl(sl) * dl(sy) / nD).as("cy1"),
        (dd(sxy) - dl(sx) * dl(sy) / nD).as("cy2"))
      val withDet = cov.withColumn("det",
        col("c11") * col("c22") - col("c12") * col("c12"))
      val withB = withDet
        .withColumn("b1",
          (col("cy1") * col("c22") - col("cy2") * col("c12")) / col("det"))
        .withColumn("b2",
          (col("cy2") * col("c11") - col("cy1") * col("c12")) / col("det"))
      val withRss = withB
        .withColumn("rssU",
          col("cyy") - col("b1") * col("cy1") - col("b2") * col("cy2"))
        .withColumn("rssR",
          col("cyy") - col("cy1") * col("cy1") / col("c11"))
      val ok = abs(col("det")) > lit(0.0) && col("c11") > 0 &&
        col("rssU") > 0 && col("n") > 3
      withRss.select(lit(label).as("direction"), col("n").as("n_days"),
        r6(when(ok, col("b2"))).as("beta_cross"),
        r4(when(ok, (col("rssR") - col("rssU")) * (nD - lit(3.0))
          / col("rssU"))).as("f_stat"))
    }
    direction("click->purchase",
        "s_ny", "s_ly", "s_lx", "q_ny", "q_ly", "q_lx",
        "p_ly_ny", "p_lx_ny", "p_ly_lx")
      .unionByName(direction("purchase->click",
        "s_nx", "s_lx", "s_ly", "q_nx", "q_lx", "q_ly",
        "p_lx_nx", "p_ly_nx", "p_ly_lx"))
      .orderBy("direction")
  }

  /** Daily order revenue — the shared base frame of the rolling-band
    * family ([[windowBollinger]], [[windowRsi]],
    * [[windowRollingSkew]]): one hash agg from the scan to the
    * model-sized date frame, exact decimal revenue. Trailing windows
    * then run UNPARTITIONED but over ≤|days| rows — never raw input. */
  private def dailyRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(Money)).as("rev"))

  /** Bollinger bands over daily revenue — trailing 7-day mean ± 2σ with
    * breach flags, the volatility-envelope readout an ops dashboard
    * puts on any daily metric. Shape at scale: the band math runs on
    * the aggregated date frame ([[dailyRevenue]]); the trailing sums
    * are exact decimals ((18,2)² = (37,4) stays inside precision 38),
    * so mean/σ are identical doubles in both engines and the breach
    * comparison needs no rounding at all. σ uses the sample variance
    * with an n>1 guard; the first days simply carry wider-n bands. */
  def windowBollinger(spark: SparkSession, dir: String): DataFrame = {
    val d180 = org.apache.spark.sql.types.DecimalType(18, 0)
    val w = Window.orderBy("d").rowsBetween(-6, 0)
    // integer-cent day values: Σcents stays a long; Σcents² is an
    // exact (38,0) decimal bridged to double via [[dec2d]] — its
    // unscaled value passes 2^53 already at sf0.1, where a plain
    // double cast diverges between engines by an ulp (see dec2d doc)
    val b = dailyRevenue(spark, dir)
      .withColumn("rc", (col("rev") * 100).cast("long"))
      .withColumn("rc2",
        (col("rc").cast(d180) * col("rc").cast(d180)))
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("s1", sum(col("rc")).over(w))
      .withColumn("s2", sum(col("rc2")).over(w))
    def d(cn: String) = col(cn).cast("double")
    val nD = d("nw")
    val mean = d("s1") / nD / lit(100.0)
    // null divisor under nw=1 instead of ANSI divide-by-zero
    val variance = (dec2d(col("s2"), 4) - (d("s1") / lit(100.0)) *
      (d("s1") / lit(100.0)) / nD) /
      when(col("nw") > 1, nD - lit(1.0))
    val sd = sqrt(greatest(variance, lit(0.0)))
    val upper = mean + lit(2.0) * sd
    val lower = mean - lit(2.0) * sd
    b.select(dateS(col("d")).as("d"), round(d("rev"), 2).as("rev"),
        col("nw").as("n_window"), r4(mean).as("mean_7"),
        r4(when(col("nw") > 1, sd)).as("sd_7"),
        r4(when(col("nw") > 1, upper)).as("upper_band"),
        r4(when(col("nw") > 1, lower)).as("lower_band"),
        (col("nw") > 1 &&
          (d("rev") > upper || d("rev") < lower)).as("is_breach"))
      .orderBy("d")
  }

  /** 14-day RSI over daily revenue — the bounded momentum oscillator
    * (simple-average spelling, not Wilder's recursive smoothing, so
    * the statistic is a pure trailing-window expression): RSI =
    * 100·ΣG/(ΣG+ΣL) over the last 14 day-over-day deltas, 50 for a
    * flat window, NULL until 14 deltas exist. Deltas/gains/losses are
    * exact decimal differences off ONE lag on the date frame; the
    * ratio is one double expression, r4 at output. */
  def windowRsi(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.orderBy("d")
    val w14 = ord.rowsBetween(-13, 0)
    val zero = lit(0).cast(org.apache.spark.sql.types.DecimalType(19, 2))
    val base = dailyRevenue(spark, dir)
      .withColumn("delta", col("rev") - lag(col("rev"), 1).over(ord))
      .withColumn("gain", when(col("delta") > 0, col("delta")).otherwise(zero))
      .withColumn("loss", when(col("delta") < 0, -col("delta")).otherwise(zero))
    val r = base
      .withColumn("nd14", count(col("delta")).over(w14))
      .withColumn("ag", sum(col("gain")).over(w14))
      .withColumn("al", sum(col("loss")).over(w14))
    def d(cn: String) = col(cn).cast("double")
    val rsi = when(d("ag") + d("al") > 0,
      lit(100.0) * d("ag") / (d("ag") + d("al"))).otherwise(lit(50.0))
    r.select(dateS(col("d")).as("d"), round(d("rev"), 2).as("rev"),
        round(d("delta"), 2).as("delta"),
        r4(when(col("nd14") === 14, rsi)).as("rsi_14"))
      .orderBy("d")
  }

  /** Trailing-30-day skewness of daily revenue — the rolling
    * higher-moment feature (is the recent distribution lopsided toward
    * spikes or crashes?) that mean/σ bands can't see. EXACT, with no
    * double quantization anywhere: each day's revenue is re-expressed
    * as integer-cent DEVIATIONS from the global-mean cents c (itself an
    * exact integer both engines derive identically), and the trailing
    * sums Σdx, Σdx², Σdx³ are exact decimals — (18,0)²=(37,0) and
    * (25,0)·(12,0)=(38,0) stay inside precision 38 for daily
    * deviations up to $1e10. Central moments about the mean follow
    * algebraically from moments about ANY origin, so shifting to c
    * costs nothing and keeps the cube small. Skew = m3/m2^1.5 with an
    * m2>0 guard; NULL until the window holds 30 days. */
  def windowRollingSkew(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType
    val w = Window.orderBy("d").rowsBetween(-29, 0)
    val daily = dailyRevenue(spark, dir)
    // the corpus-total revenue is summed as LONG CENTS, not decimal:
    // int64→double is correctly rounded identically in both engines at
    // any magnitude, while CAST(decimal AS DOUBLE) diverges by an ulp
    // past 2^53 unscaled (the dec2d class) — and a 1-ulp gmean flip
    // would move floor(·+0.5) and shift every deviation below
    val tot = daily.agg(
      sum((col("rev") * 100).cast("long")).as("sc"),
      count(lit(1)).as("nd"))
      .select(floor(col("sc").cast("double") / col("nd").cast("double")
        + lit(0.5)).as("c"))
    val base = daily.crossJoin(broadcast(tot))
      .withColumn("dx", ((col("rev") * 100).cast("long") - col("c"))
        .cast(dec(18, 0)))
      .withColumn("dx2", col("dx") * col("dx"))
      .withColumn("dx3",
        (col("dx2").cast(dec(25, 0)) * col("dx").cast(dec(12, 0))))
    val r = base
      .withColumn("n30", count(lit(1)).over(w))
      .withColumn("s1", sum(col("dx")).over(w))
      .withColumn("s2", sum(col("dx2")).over(w))
      .withColumn("s3", sum(col("dx3")).over(w))
    def d(cn: String) = col(cn).cast("double")
    val nD = d("n30")
    val m1 = d("s1") / nD
    // Σdx² / Σdx³ pass 2^53 unscaled well before 100 TB — bridge via
    // [[dec2d]] so both engines see the identical double (Σdx stays
    // plain: ≤ 30·dx_max, inside the exact-cast range)
    val s2d = dec2d(col("s2"), 0)
    val s3d = dec2d(col("s3"), 0)
    val m2 = s2d / nD - m1 * m1
    val m3 = s3d / nD - lit(3.0) * m1 * (s2d / nD) +
      lit(2.0) * m1 * m1 * m1
    r.select(dateS(col("d")).as("d"), col("n30"),
        r4((d("c") + m1) / lit(100.0)).as("mean_30"),
        r4(when(col("n30") === 30 && m2 > 0, sqrt(m2) / lit(100.0)))
          .as("sd_30"),
        r6(when(col("n30") === 30 && m2 > 0,
          m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))).as("skew_30"))
      .orderBy("d")
  }

  /** EXACT corpus quantiles via the VALUE-DOMAIN histogram — the 100 TB
    * exact-selection shape: Spark's exact `percentile()` is an object
    * aggregate that buffers values per group, and a global sort-based
    * selection shuffles the corpus; this query instead reduces to ONE
    * hash agg over DISTINCT integer-cent values — bounded by the PRICE
    * DOMAIN (~1e7 cents here), not the row count, at any corpus size —
    * then reads each quantile off the cumulated histogram as "smallest
    * value whose cumulative count reaches ⌈q·n⌉". Rank targets are exact
    * integer arithmetic ((n·num + den − 1) div den), so there is no
    * engine quantile-interpolation semantic to match — the selection
    * rule IS the definition, identical in both engines.
    *
    * TWO-LEVEL RANGE-BUCKET cumsum (the 100 TB rung VERDICT r12 asked
    * for, replacing r12's global single-task `Window.orderBy(cents)`):
    * level 1 buckets the value domain (cents div 1e5 → ~110 buckets
    * here), aggregates per-bucket subtotals, and runs the prefix window
    * over THAT model-sized bucket frame; level 2 adds the within-bucket
    * running sum under `Window.partitionBy(bkt)` — distributed across
    * buckets, each task sorting ≤1e5 distinct values. No task ever
    * sorts the full histogram (PlanSpec-locked); a domain wide enough
    * to blow the bucket frame gets a third level, same identity.
    * n comes from a one-row scalar aggregate broadcast (r12 burned an
    * extra full-histogram empty-partition window on it), and the five
    * selections fold into ONE conditional min pass over the cumulated
    * histogram (r12's broadcast crossJoin + filter kept ~half the
    * histogram per quantile before its min). Measured: 4.6 s (driver
    * r12, contended) / 1.59 s (quiet) → ~0.6 s quiet. */
  def aggQuantileHistogram(spark: SparkSession, dir: String): DataFrame = {
    val qs = Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L),
      ("p90", 9L, 10L), ("p99", 99L, 100L))
    // r16 optimization round: same treatment as [[bucketedHist]] — the
    // distinct-cents histogram is materialized ONCE (the lazy spelling
    // re-derived it per reference: its own branch, the bucket frame,
    // plus a THIRD lineitem scan just for count(*)), repartitioned on
    // bkt so the bucket aggregate and the level-2 cumsum window run
    // exchange-free; the bucket frame broadcasts explicitly and now
    // carries n = Σbc (≡ count(*): every row lands in exactly one
    // histogram cell), dropping the count-only scan.
    val hist = iterCheckpoint(table(spark, dir, "lineitem")
      .select((col("l_extendedprice").cast(Money) * 100).cast("long")
        .as("cents"))
      .groupBy("cents").agg(count(lit(1)).as("c"))
      .withColumn("bkt", expr("cents div 100000"))
      .repartition(col("bkt")))
    val bktPre = hist.groupBy("bkt").agg(sum(col("c")).as("bc"))
      .withColumn("pre", coalesce(sum(col("bc")).over(Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("bc")).over(Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("bkt", "pre", "n")
    val cum = hist.join(broadcast(bktPre), "bkt")
      .withColumn("cum", col("pre") +
        sum(col("c")).over(Window.partitionBy("bkt").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sel = qs.map { case (q, num, den) =>
      min(when(col("cum") >= expr(s"(n * $num + $den - 1) div $den"),
        col("cents"))).as(q)
    }
    val one = cum.groupBy("n").agg(sel.head, sel.tail: _*)
    one.select(col("n"), expr("stack(5, " + qs.map { case (q, num, den) =>
        s"'$q', $q, ${num}L, ${den}L" }.mkString(", ") +
        ") as (q, vc, num, den)"))
      .select(col("q"), col("n"),
        expr("(n * num + den - 1) div den").as("target_rank"),
        (col("vc").cast("double") / lit(100.0)).as("value"))
      .orderBy("q")
  }

  /** Sweep-line interval UNION per (event_type, day) — the segment-union
    * measure ("how many seconds of the day had at least one active
    * interval of this type, and how concurrent were they?") computed
    * WITHOUT enumerating overlaps: a pairwise overlap join is quadratic
    * in the per-day density, while the sweep is linear — every interval
    * contributes a +1 boundary at its start and a −1 at its end, a
    * running counter c tracks concurrency, and the covered time is the
    * sum of boundary gaps where c > 0. Each event opens a 5-minute
    * activity interval; intervals crossing midnight are SPLIT at the
    * boundary, which is exactly what makes the (type, day) partitions
    * independent — the decomposition unit a 100 TB run would shard on
    * (finer chunks with boundary stitching are the next rung; within a
    * partition the sweep is inherently sequential). Tie safety: equal
    * boundary times order arbitrarily, but a gap is non-zero only on a
    * tie-group's LAST row, where the running sum includes the whole
    * group regardless of intra-group order — the aggregate is
    * deterministic without a total order. */
  def aggIntervalUnion(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = table(spark, dir, "events")
      .select(col("event_type").as("t"), unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + lit(300000000L))
    val mid = (expr("s div 86400000000") + lit(1L)) * lit(dayUs)
    val segs = ev
      .select(col("t"), explode(array(
        struct(col("s").as("ss"), least(col("e"), mid).as("ee")),
        struct(mid.as("ss"),
          when(col("e") > mid, col("e")).as("ee")))).as("seg"))
      .select(col("t"), col("seg.ss").as("ss"), col("seg.ee").as("ee"))
      .filter(col("ee").isNotNull && col("ee") > col("ss"))
      .withColumn("day", expr("ss div 86400000000"))
    val busy = segs.groupBy("t", "day")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("ee") - col("ss")).as("busy_us"))
    val bounds = segs.select(col("t"), col("day"), explode(array(
        struct(col("ss").as("bt"), lit(1L).as("delta")),
        struct(col("ee").as("bt"), lit(-1L).as("delta")))).as("b"))
      .select(col("t"), col("day"), col("b.bt").as("bt"),
        col("b.delta").as("delta"))
    val ord = Window.partitionBy("t", "day").orderBy(col("bt"), desc("delta"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cov = bounds
      .withColumn("c", sum(col("delta")).over(run))
      .withColumn("nxt", lead(col("bt"), 1).over(ord))
      .select(col("t"), col("day"),
        when(col("c") > 0 && col("nxt").isNotNull, col("nxt") - col("bt"))
          .otherwise(lit(0L)).as("gap"))
      .groupBy("t", "day").agg(sum(col("gap")).as("covered_us"))
    busy.join(cov, Seq("t", "day"))
      .select(col("t").as("event_type"),
        dateS(timestamp_micros(col("day") * lit(dayUs))).as("d"),
        col("n_intervals"), col("busy_us"), col("covered_us"),
        r4(col("busy_us").cast("double") / col("covered_us").cast("double"))
          .as("avg_concurrency"),
        r6(col("covered_us").cast("double") / lit(86400000000.0))
          .as("day_share"))
      .orderBy("event_type", "d")
  }

  /** In-plan exact median by explicit rank selection: row_number the
    * values, keep ranks floor((m+1)/2) and floor(m/2)+1 (equal when m
    * is odd), average them — the engine-neutral median (no
    * percentile-interpolation semantics to match). Rank ties are
    * between equal values, so the selected VALUES are deterministic
    * even though the tie order isn't. Only for model-sized frames: the
    * rank is an unpartitioned window. */
  private def rankMedian(df: DataFrame, c: String, as: String): DataFrame =
    df.select(col(c), row_number().over(Window.orderBy(col(c))).as("rn"),
        count(lit(1)).over(Window.partitionBy()).as("m"))
      .filter(col("rn") === floor((col("m") + lit(1)) / lit(2.0)) ||
        col("rn") === floor(col("m") / lit(2.0)) + lit(1))
      .agg(avg(col(c)).as(as))

  /** Theil–Sen robust trend of daily purchase revenue — the
    * breakdown-resistant alternative to [[aggCorrRegression]]'s OLS
    * slope (one corrupted day can move OLS arbitrarily; Theil–Sen
    * tolerates ~29% outliers). Slope = median of all pairwise
    * day-to-day slopes, intercept = median of (y − slope·x). The pair
    * space is quadratic ONLY over the aggregated daily frame (~92
    * rows → ~4k pairs), which is the 100 TB shape: reduce first
    * (map-side-combined hash agg to one row per day), then run the
    * quadratic estimator on the model-sized frame. Medians are
    * explicit rank selections ([[rankMedian]]) — no engine quantile
    * interpolation. */
  def eventsTheilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(dsum(col("value"), Qty).as("y"))
      .select(datediff(col("d"), to_date(lit("1970-01-01"))).as("x"),
        col("y"))
    val a = daily.select(col("x").as("xa"), col("y").as("ya"))
    val bb = daily.select(col("x").as("xb"), col("y").as("yb"))
    val slopes = a.join(bb, col("xa") < col("xb"))
      .select(((col("yb") - col("ya")) /
        (col("xb") - col("xa")).cast("double")).as("slope"))
    val smed = rankMedian(slopes, "slope", "med")
    val resid = daily.crossJoin(broadcast(smed))
      .select((col("y") - col("med") * col("x")).as("r"))
    val imed = rankMedian(resid, "r", "imed")
    daily.agg(count(lit(1)).as("n_days"))
      .crossJoin(slopes.agg(count(lit(1)).as("n_pairs")))
      .crossJoin(smed).crossJoin(imed)
      .select(col("n_days"), col("n_pairs"),
        r6(col("med")).as("slope_per_day"), r4(col("imed")).as("intercept"))
  }

  /** Upper-tail normal probability P(Z > az) for az ≥ 0 via the
    * Abramowitz–Stegun 26.2.17 polynomial (|err| < 7.5e-8). Both
    * engines evaluate the identical literal tree ([[normTailSql]] is
    * the SQL spelling), so the approximation is self-consistent and
    * oracle-exact. */
  private def normTail(az: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    exp(-(az * az) / lit(2.0)) * lit(0.3989422804014327) * t *
      (lit(0.319381530) + t * (lit(-0.356563782) + t * (lit(1.781477937) +
        t * (lit(-1.821255978) + t * lit(1.330274429)))))
  }

  /** [[normTail]]'s SQL spelling; `az` must be a non-negative column
    * reference and `t` the alias `1.0/(1.0 + 0.2316419*az)` computed in
    * an enclosing CTE. */
  private def normTailSql(az: String, t: String): String =
    s"""exp(-($az * $az) / 2.0) * 0.3989422804014327 * $t
       * (0.319381530 + $t * (-0.356563782 + $t * (1.781477937
         + $t * (-1.821255978 + $t * 1.330274429))))"""

  /** Benjamini–Hochberg FDR control over the per-hour purchase-rate
    * test family — the multiple-comparisons half the A/B suite
    * ([[eventsTwoProportionZ]], [[eventsPowerAnalysis]]) needs once
    * you test 24 hypotheses at once: each hour's purchase rate vs the
    * other 23 hours' pooled rate (leave-one-out two-proportion z),
    * p-values through the Abramowitz–Stegun 26.2.17 normal-tail
    * polynomial (|err| < 7.5e-8; BOTH engines evaluate the identical
    * literal tree, so the approximation is self-consistent and
    * oracle-exact), then the BH step-up: rank ascending p, k* =
    * max{k : p(k) ≤ k·α/m}, discover ranks ≤ k*. Everything after the
    * one hash agg is window math on the 24-row frame. */
  def aggBhFdr(spark: SparkSession, dir: String): DataFrame = {
    val alpha = 0.05
    val byHour = table(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(hour(col("ts")).cast("long").as("hr"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("k"),
        count(lit(1)).as("n"))
    val tot = byHour.agg(sum(col("k")).as("kt"), sum(col("n")).as("nt"))
    val k1 = col("k").cast("double"); val n1 = col("n").cast("double")
    val k2 = (col("kt") - col("k")).cast("double")
    val n2 = (col("nt") - col("n")).cast("double")
    val p1 = k1 / n1; val p2 = k2 / n2
    val pp = (k1 + k2) / (n1 + n2)
    val z = (p1 - p2) /
      sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2))
    val scored = byHour.crossJoin(broadcast(tot))
      .select(col("hr"), col("k"), col("n"), r6(p1).as("rate"),
        r4(z).as("z_stat"), (lit(2.0) * normTail(abs(z))).as("praw"))
    val ranked = scored
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("praw"), col("hr")))
          .cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("crit",
        col("rnk").cast("double") * lit(alpha) / col("m").cast("double"))
      .withColumn("kmax",
        max(when(col("praw") <= col("crit"), col("rnk")))
          .over(Window.partitionBy()))
    ranked.select(col("hr"), col("k"), col("n"), col("rate"),
        col("z_stat"), r6(col("praw")).as("p_value"), col("rnk"),
        r6(col("crit")).as("bh_crit"),
        coalesce(col("rnk") <= col("kmax"), lit(false))
          .as("is_discovery"))
      .orderBy("rnk")
  }

  /** Cumulative distinct-user growth curve — the scalable rewrite of
    * "COUNT(DISTINCT user) OVER (ORDER BY day)", which is
    * undistributable as written (every day's frame re-deduplicates all
    * history). The reduction: each user contributes exactly once, at
    * their FIRST day (one map-side-combined min-agg per user), so the
    * curve is new-users-per-day + a prefix sum over the bounded daily
    * frame. Same shape at 100 TB: user-partitioned min, day-partitioned
    * count, ~92-row window. */
  def eventsCumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val first = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"))
    val byDay = first.groupBy(col("first_d").as("d"))
      .agg(count(lit(1)).as("nu"))
    // re-densify: a day with zero first-timers still belongs on the curve
    val days = ev.select(to_date(col("ts")).as("d")).distinct()
    days.join(byDay, Seq("d"), "left")
      .select(col("d"), coalesce(col("nu"), lit(0L)).as("new_users"))
      .select(dateS(col("d")).as("day_s"), col("new_users"),
        sum(col("new_users"))
          .over(Window.orderBy(col("d"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum_users"))
      .orderBy("day_s")
  }

  /** Sample-ratio-mismatch guardrail — the experiment-integrity check
    * that must run BEFORE any A/B readout ([[eventsAbTtest]],
    * [[eventsTwoProportionZ]]): per day, does the T/C traffic split
    * (user_id parity, the suite's standing assignment) deviate from
    * 50/50 beyond chance? χ² goodness-of-fit with 1 dof reduces to
    * (nT−nC)²/n; p = 2·P(Z > √χ²) through the shared [[normTail]]
    * polynomial; a day flags at p < 0.001 (the conventional SRM alarm
    * threshold — loose enough that chance alone fires ~once per 3
    * years of days). One hash agg to the daily frame, then scalar
    * math. */
  def eventsSrmCheck(spark: SparkSession, dir: String): DataFrame = {
    val byDay = table(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(when(col("user_id") % 2 === 0, 1)).as("n_t"),
        count(when(col("user_id") % 2 =!= 0, 1)).as("n_c"))
    val nt = col("n_t").cast("double"); val nc = col("n_c").cast("double")
    val chi2 = (nt - nc) * (nt - nc) / (nt + nc)
    byDay.select(dateS(col("d")).as("day_s"), col("n_t"), col("n_c"),
        r4(chi2).as("chi2"),
        r6(lit(2.0) * normTail(sqrt(chi2))).as("p_value"),
        (lit(2.0) * normTail(sqrt(chi2)) < lit(0.001)).as("srm_flag"))
      .orderBy("day_s")
  }

  /** Lincoln–Petersen capture–recapture population estimate (Chapman's
    * bias-corrected form) from the two halves of the event window: how
    * many distinct users EXIST — including the never-observed — given
    * n1 users seen early, n2 seen late, and m seen in both. The
    * estimator ecologists use for animal populations is the data
    * engineer's answer to "how complete is my corpus/user coverage"
    * without a census. Shape: one scan → per-(user, half) presence →
    * per-user pair flags (map-side-combined min/max agg) → three
    * counts; Chapman (n1+1)(n2+1)/(m+1) − 1 survives m = 0. */
  def aggCaptureRecapture(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val span = ev.agg(min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("d1"))
      .select(expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))")
        .as("mid"))
    val flags = ev.crossJoin(broadcast(span))
      .groupBy(col("user_id"))
      .agg(max(when(to_date(col("ts")) <= col("mid"), 1).otherwise(0))
          .as("in1"),
        max(when(to_date(col("ts")) > col("mid"), 1).otherwise(0))
          .as("in2"))
    val cnt = flags.agg(
      sum(col("in1")).cast("long").as("n1"),
      sum(col("in2")).cast("long").as("n2"),
      sum(col("in1") * col("in2")).cast("long").as("m"))
    val n1d = col("n1").cast("double"); val n2d = col("n2").cast("double")
    val md = col("m").cast("double")
    cnt.select(col("n1"), col("n2"), col("m"),
      r4((n1d + lit(1.0)) * (n2d + lit(1.0)) / (md + lit(1.0)) - lit(1.0))
        .as("est_population"),
      r6(md / n2d).as("recapture_rate"))
  }

  /** Shared 3×3 Cramer solve for the symmetric system
    * [[m00 m01 m02; m01 m11 m12; m02 m12 m22]] b = [g0 g1 g2] — ONE
    * spelling (first-row cofactor expansion, the [[aggOlsMulti]]
    * parenthesization) used by every round of [[aggLogisticIrls]] so
    * the Scala driver math and the oracle SQL cannot drift. Returns
    * (det, b0, b1, b2). */
  private def cramer3(m00: Double, m01: Double, m02: Double,
      m11: Double, m12: Double, m22: Double,
      g0: Double, g1: Double, g2: Double): (Double, Double, Double, Double) = {
    val det = m00 * (m11 * m22 - m12 * m12) -
      m01 * (m01 * m22 - m12 * m02) +
      m02 * (m01 * m12 - m11 * m02)
    val det0 = g0 * (m11 * m22 - m12 * m12) -
      m01 * (g1 * m22 - m12 * g2) +
      m02 * (g1 * m12 - m11 * g2)
    val det1 = m00 * (g1 * m22 - m12 * g2) -
      g0 * (m01 * m22 - m12 * m02) +
      m02 * (m01 * g2 - g1 * m02)
    val det2 = m00 * (m11 * g2 - g1 * m12) -
      m01 * (m01 * g2 - g1 * m02) +
      g0 * (m01 * m12 - m11 * m02)
    (det, det0 / det, det1 / det, det2 / det)
  }

  /** DuckDB spelling of [[cramer3]] — identical cofactor expansion,
    * emitted as four SELECT expressions `det, c0, c1, c2`. */
  private def cramer3Sql(m00: String, m01: String, m02: String,
      m11: String, m12: String, m22: String,
      g0: String, g1: String, g2: String): String =
    s"""$m00 * ($m11 * $m22 - $m12 * $m12) -
           $m01 * ($m01 * $m22 - $m12 * $m02) +
           $m02 * ($m01 * $m12 - $m11 * $m02) AS det,
         $g0 * ($m11 * $m22 - $m12 * $m12) -
           $m01 * ($g1 * $m22 - $m12 * $g2) +
           $m02 * ($g1 * $m12 - $m11 * $g2) AS det0,
         $m00 * ($g1 * $m22 - $m12 * $g2) -
           $g0 * ($m01 * $m22 - $m12 * $m02) +
           $m02 * ($m01 * $g2 - $g1 * $m02) AS det1,
         $m00 * ($m11 * $g2 - $g1 * $m12) -
           $m01 * ($m01 * $g2 - $g1 * $m02) +
           $g0 * ($m01 * $m12 - $m11 * $m02) AS det2"""

  /** Logistic regression fit by TWO unrolled Newton/IRLS rounds over
    * per-user activity — distributed supervised classification in the
    * same matrix-free discipline as [[aggOlsMulti]] (sufficient
    * statistics distribute, the p³ solve is scalar) and
    * [[aggEmMixture]] (fixed rounds, driver state = the model): raw
    * events reduce ONCE to a per-user frame (map-side-combined hash
    * agg, [[Util.iterCheckpoint]]'d so later rounds never rescan raw
    * events), each round is one scan of that frame computing the nine
    * weighted-Gram sums as exact decimal aggregates, and the 3×3
    * Newton solve is driver-side Cramer ([[cramer3]] — the Lloyd
    * discipline, β is the only driver state). Response y = "user
    * purchases more than they click"; features are the raw view/error
    * counts (exact integers — round 1 from β = 0 has constant weight
    * 1/4 and is transcendental-free; round 2's sigmoid outputs are
    * r6-quantized before the decimal sums so both engines accumulate
    * identical values, and β is r6-quantized between rounds). Output:
    * cohort size, class balance, coefficients, and the final-model
    * mean log-loss (clamped sigmoid, so a saturated fit cannot emit
    * ±inf). Singular designs give NULL coefficients on both engines
    * (IEEE 0-division propagates NaN, which [[Util.r6]] keeps NaN;
    * the guard turns it NULL in both). At 100 TB: the per-user frame
    * is the only shuffle, every round is an O(users) scan with a
    * 9-number result — no gradient-descent step ever moves data. */
  def aggLogisticIrls(spark: SparkSession, dir: String): DataFrame = {
    val d246 = org.apache.spark.sql.types.DecimalType(24, 6)
    def cnt(t: String) =
      sum(when(col("event_type") === t, 1L).otherwise(0L))
    val pu = table(spark, dir, "events")
      .groupBy("user_id")
      .agg(cnt("view").cast("double").as("x1"),
        cnt("error").cast("double").as("x2"),
        when(cnt("purchase") > cnt("click"), 1.0).otherwise(0.0).as("y"))
      .transform(iterCheckpoint)
    // round 1 from β = 0: weight is the constant 1/4, gradient is
    // Σ x·(y − 1/2) — every sum term is an exact half-integer
    val m = pu.agg(count(lit(1)).as("n"),
      sum(col("y").cast(d246)).cast("double").as("npos"),
      dsum(col("x1"), d246).as("sx1"), dsum(col("x2"), d246).as("sx2"),
      dsum(col("x1") * col("x1"), d246).as("sx11"),
      dsum(col("x1") * col("x2"), d246).as("sx12"),
      dsum(col("x2") * col("x2"), d246).as("sx22"),
      dsum(col("y") - lit(0.5), d246).as("g0"),
      dsum(col("x1") * (col("y") - lit(0.5)), d246).as("g1"),
      dsum(col("x2") * (col("y") - lit(0.5)), d246).as("g2"))
      .collect()(0)
    val n = m.getAs[Long]("n")
    val (det1, c0, c1, c2) = cramer3(
      n.toDouble, m.getAs[Double]("sx1"), m.getAs[Double]("sx2"),
      m.getAs[Double]("sx11"), m.getAs[Double]("sx12"),
      m.getAs[Double]("sx22"),
      m.getAs[Double]("g0"), m.getAs[Double]("g1"), m.getAs[Double]("g2"))
    val out: (java.lang.Double, java.lang.Double, java.lang.Double,
        java.lang.Double) =
      if (!(math.abs(det1) > 0)) (null, null, null, null)
      else {
        val (b0, b1, b2) =
          (r6D(4.0 * c0), r6D(4.0 * c1), r6D(4.0 * c2))
        // round 2: Newton step at β₁ — sigmoid r6-quantized per row,
        // weights and gradient terms r6-quantized into exact sums
        def eta(bb0: Double, bb1: Double, bb2: Double) =
          lit(bb0) + lit(bb1) * col("x1") + lit(bb2) * col("x2")
        val p = r6(lit(1.0) / (lit(1.0) + exp(-eta(b0, b1, b2))))
        val w = col("p") * (lit(1.0) - col("p"))
        val h = pu.select(col("x1"), col("x2"), col("y"), p.as("p"))
          .agg(
            sum(r6(w).cast(d246)).cast("double").as("sw"),
            sum(r6(w * col("x1")).cast(d246)).cast("double").as("sw1"),
            sum(r6(w * col("x2")).cast(d246)).cast("double").as("sw2"),
            sum(r6(w * col("x1") * col("x1")).cast(d246)).cast("double").as("sw11"),
            sum(r6(w * col("x1") * col("x2")).cast(d246)).cast("double").as("sw12"),
            sum(r6(w * col("x2") * col("x2")).cast(d246)).cast("double").as("sw22"),
            sum(r6(col("y") - col("p")).cast(d246)).cast("double").as("q0"),
            sum(r6((col("y") - col("p")) * col("x1")).cast(d246)).cast("double").as("q1"),
            sum(r6((col("y") - col("p")) * col("x2")).cast(d246)).cast("double").as("q2"))
          .collect()(0)
        val (det2, d0, d1, d2) = cramer3(
          h.getAs[Double]("sw"), h.getAs[Double]("sw1"),
          h.getAs[Double]("sw2"), h.getAs[Double]("sw11"),
          h.getAs[Double]("sw12"), h.getAs[Double]("sw22"),
          h.getAs[Double]("q0"), h.getAs[Double]("q1"), h.getAs[Double]("q2"))
        if (!(math.abs(det2) > 0)) (null, null, null, null)
        else {
          val (f0, f1, f2) = (r6D(b0 + d0), r6D(b1 + d1), r6D(b2 + d2))
          // mean log-loss of the final model, sigmoid clamped to
          // [1e-6, 1 − 1e-6] so a saturated row cannot emit ±inf
          val p2 = r6(lit(1.0) / (lit(1.0) + exp(-eta(f0, f1, f2))))
          val pc = least(greatest(col("p"), lit(1e-6)), lit(1.0 - 1e-6))
          val lossRow = pu.select(col("y"), p2.as("p"))
            .agg(sum(r6(-(col("y") * log(pc) +
              (lit(1.0) - col("y")) * log(lit(1.0) - pc))).cast(d246))
              .cast("double").as("sl"))
            .collect()(0)
          val loss = r4D(lossRow.getAs[Double]("sl") / n)
          (f0, f1, f2, loss)
        }
      }
    def q4(x: java.lang.Double): java.lang.Double =
      if (x == null) null else r4D(x)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_users",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_pos",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("b_intercept",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("b_views",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("b_errors",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("log_loss",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        n, m.getAs[Double]("npos").toLong,
        q4(out._1), q4(out._2), q4(out._3), out._4)),
      schema)
  }

  /** 2-D Pareto frontier (skyline) of customers over (total spend,
    * order count) — "who is not beaten on BOTH axes", the
    * multi-objective top-N that no single ORDER BY can express. The
    * textbook formulation is a window over the globally spend-sorted
    * frame (prefix max of the other axis), which is UNDISTRIBUTABLE —
    * one global sort partition at any scale. This implementation is the
    * two-level prefix-max: rows bucket by spend range (monotone in the
    * sort key, so bucket order IS sort order), the within-bucket prefix
    * max is a bucket-partitioned window (shuffle-parallel), the
    * cross-bucket prefix max rides the model-sized bucket frame
    * (bounded: per-customer spend doesn't grow with corpus size), and a
    * point is ON the frontier iff its count beats both levels' maxima —
    * identical to the single-window skyline, proved by the oracle
    * replaying the one-window spelling. Dominance math is EXACT
    * (decimal spend sums, long counts — no rounding anywhere);
    * duplicate (spend, count) points keep the lowest custkey. */
  def sortParetoSkyline(spark: SparkSession, dir: String): DataFrame = {
    val per = table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(Money)).as("spendd"),
        count(lit(1)).as("n_orders"))
    val b = per.withColumn("bucket",
      floor(col("spendd").cast("double") / lit(50000.0)).cast("long"))
    val wIn = Window.partitionBy("bucket")
      .orderBy(col("spendd").desc, col("n_orders").desc, col("o_custkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val inb = b.withColumn("mprev", max(col("n_orders")).over(wIn))
    val wAcross = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bmax = b.groupBy("bucket").agg(max(col("n_orders")).as("bmx"))
      .withColumn("bprev", max(col("bmx")).over(wAcross))
      .select(col("bucket"), col("bprev"))
    inb.join(broadcast(bmax), "bucket")
      .withColumn("thr",
        greatest(coalesce(col("mprev"), lit(-1L)),
          coalesce(col("bprev"), lit(-1L))))
      .filter(col("n_orders") > col("thr"))
      .select(col("o_custkey").as("custkey"),
        col("spendd").cast("double").as("total_spend"), col("n_orders"))
      .orderBy(desc("total_spend"), col("custkey"))
  }

  /** Channel order for [[aggShapleyChannel]] — bit i of a coalition
    * mask = channel i present. ONE enumeration drives both the Scala
    * fold and the generated oracle SQL, so the floating-point addition
    * ORDER (which matters for bit-parity) cannot drift. */
  private val ShapChannels = Seq("view", "click", "signup", "error")
  private def shapFact(n: Int): Long = (1 to n).foldLeft(1L)(_ * _)
  /** Shapley weight |S|!(c−|S|−1)!/c! for coalition size s of c=4. */
  private def shapW(s: Int): Double =
    (shapFact(s) * shapFact(ShapChannels.size - s - 1)).toDouble /
      shapFact(ShapChannels.size).toDouble
  /** The (weight, S, S∪{i}) term list for channel i, masks ascending. */
  private def shapTerms(i: Int): Seq[(Double, Int, Int)] =
    for (m <- 0 until (1 << ShapChannels.size) if (m & (1 << i)) == 0)
      yield (shapW(Integer.bitCount(m)), m, m | (1 << i))

  /** Data-driven marketing attribution by EXACT Shapley values over
    * the four exposure channels — the game-theoretic answer to "which
    * channel causes conversions" that last-touch ([[eventsAttribution]])
    * structurally cannot give (it awards everything to the final
    * click). Coalition value v(S) = conversion rate of users exposed to
    * EXACTLY the channel set S; with 4 channels the 16 coalitions
    * enumerate exactly, so this is the exact Shapley, not a sampled
    * estimate. Distribution shape: one hash agg to per-user exposure
    * flags, one conditional agg to the 32 coalition counts (a single
    * model-sized row — at 100 TB both aggs map-side combine), then the
    * 4×8-term weighted fold is scalar math. Efficiency axiom audit
    * included: Σφ must equal v(full) − v(∅), and the spec pins it.
    * Determinism: coalition rates are exact int ratios; the fold order
    * and weights come from ONE shared enumeration ([[shapTerms]]), so
    * Spark and DuckDB add identical doubles in identical order. */
  def aggShapleyChannel(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val flags = ShapChannels.map(c =>
      max(when(col("event_type") === c, 1).otherwise(0)).as(s"f_$c")) :+
      max(when(col("event_type") === "purchase", 1).otherwise(0)).as("y")
    val pu = ev.groupBy("user_id").agg(flags.head, flags.tail: _*)
    def maskCond(m: Int): Column =
      ShapChannels.zipWithIndex.map { case (c, i) =>
        col(s"f_$c") === (if ((m & (1 << i)) != 0) 1 else 0)
      }.reduce(_ && _)
    val counts = (0 until 16).flatMap { m =>
      Seq(sum(when(maskCond(m), 1L).otherwise(0L)).as(s"n_$m"),
        sum(when(maskCond(m) && col("y") === 1, 1L).otherwise(0L))
          .as(s"k_$m"))
    }
    val row = pu.agg(counts.head, counts.tail: _*).collect()(0)
    val n = (0 until 16).map(m => row.getAs[Long](s"n_$m"))
    val k = (0 until 16).map(m => row.getAs[Long](s"k_$m"))
    val v = (0 until 16).map(m =>
      if (n(m) > 0) k(m).toDouble / n(m).toDouble else 0.0)
    import spark.implicits._
    ShapChannels.zipWithIndex.map { case (c, i) =>
      val phi = shapTerms(i).foldLeft(0.0) { case (acc, (w, s, si)) =>
        acc + w * (v(si) - v(s))
      }
      val nExp = (0 until 16).filter(m => (m & (1 << i)) != 0).map(n).sum
      (c, nExp, r6D(phi))
    }.toDF("channel", "n_exposed", "shapley_value").orderBy("channel")
  }

  /** Transient-state order for [[aggMarkovAttribution]] — one list
    * drives the Scala recurrence and the generated oracle SQL. */
  private val MarkovTransient = Seq("start", "view", "click", "signup", "error")
  private val MarkovSteps = 8

  /** Markov removal-effect attribution — the path-based complement of
    * [[aggShapleyChannel]] (Shapley sees exposure SETS; this sees
    * transition ORDER): build the first-order journey chain
    * start → events… → {purchase | null}, truncated at the first
    * purchase, then ask per channel "how much conversion probability
    * disappears if every path through this channel is broken" —
    * removal effect 1 − p_removed/p_full, the standard data-driven
    * attribution on Markov chains. Absorption probabilities come from
    * [[MarkovSteps]] unrolled steps of p_s ← T[s,conv] + Σ T[s,s']·p_s'
    * (paths ≤ 8 hops — documented truncation; removing a channel just
    * DROPS its term, no second matrix). Distribution shape: one
    * user-partitioned window forms consecutive pairs, one hash agg to
    * the ≤ 7×7 transition counts (model-sized), all chain math is
    * scalar on exact count ratios; the term ORDER comes from
    * [[MarkovTransient]] so both engines add identical doubles
    * identically. */
  def aggMarkovAttribution(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = table(spark, dir, "events")
      .withColumn("rn", row_number().over(order))
      .withColumn("conv_rn", min(when(col("event_type") === "purchase",
        col("rn"))).over(Window.partitionBy("user_id")))
      .filter(col("conv_rn").isNull || col("rn") <= col("conv_rn"))
    val paired = ev
      .withColumn("prev", lag(col("event_type"), 1).over(order))
      .withColumn("from_s", coalesce(col("prev"), lit("start")))
      .withColumn("is_last", col("rn") === max(col("rn"))
        .over(Window.partitionBy("user_id")))
    // one pass: each row emits its (prev → current) pair, and the last
    // non-converting row ALSO emits the terminal (current → null) — as
    // a per-row array explode, not a second union branch (a union would
    // plan the whole user-partitioned window pipeline twice)
    val trans = paired.select(explode(concat(
        array(struct(col("from_s"), col("event_type").as("to_s"))),
        when(col("is_last") && col("event_type") =!= "purchase",
          array(struct(col("event_type").as("from_s"),
            lit("null").as("to_s"))))
          .otherwise(array().cast(
            "array<struct<from_s:string,to_s:string>>"))))
        .as("t"))
      .select(col("t.from_s"), col("t.to_s"))
    val cnt = trans.groupBy("from_s", "to_s").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap.withDefaultValue(0L)
    val rowSum = MarkovTransient.map(s =>
      s -> (MarkovTransient.drop(1) ++ Seq("purchase", "null"))
        .map(t => cnt((s, t))).sum).toMap
    def t(s: String, to: String): Double =
      if (rowSum(s) > 0) cnt((s, to)).toDouble / rowSum(s).toDouble else 0.0
    // p(conversion | start, <= MarkovSteps hops), with `removed` dropped
    def absorb(removed: Option[String]): Double = {
      val states = MarkovTransient.filterNot(removed.contains)
      var p = states.map(_ => 0.0)
      for (_ <- 1 to MarkovSteps) {
        p = states.map { s =>
          states.zip(p).filter(_._1 != "start").foldLeft(t(s, "purchase")) {
            case (acc, (s2, p2)) => acc + t(s, s2) * p2
          }
        }
      }
      p.head // p("start")
    }
    val pFull = absorb(None)
    val nPaths = rowSum("start")
    import spark.implicits._
    MarkovTransient.drop(1).map { c =>
      val pr = absorb(Some(c))
      val eff = if (pFull > 0) 1.0 - pr / pFull else 0.0
      (c, nPaths, r6D(pFull), r6D(pr), r6D(eff))
    }.toDF("channel", "n_paths", "p_full", "p_removed", "removal_effect")
      .orderBy("channel")
  }

  /** CUPED variance-reduction for the A/B readout — the industry-
    * standard pre-experiment covariate adjustment: per user, pre-period
    * spend x (first half of the window) predicts post-period spend y,
    * θ = cov(x,y)/var(x) pooled, and the adjusted metric
    * y − θ(x − x̄) keeps the same expectation while removing ρ² of the
    * variance (reported as `var_reduction`) — the difference between a
    * powered and an underpowered experiment at the same traffic. All of
    * it is closed-form from ONE scan: per-user pre/post spends (hash
    * agg, map-side combined), then eleven exact-decimal moments
    * (global + per-arm) in a single conditional agg; the adjusted
    * means use the identity mean(y_adj) = mean(y) − θ(mean(x) − x̄),
    * so no second pass ever touches the data. Degenerate var(x)=0 or
    * var(y)=0 → NULL adjustments on both engines. */
  def aggCupedAdjustment(spark: SparkSession, dir: String): DataFrame = {
    val d388 = org.apache.spark.sql.types.DecimalType(38, 8)
    val ev = table(spark, dir, "events")
    val span = ev.agg(min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("d1"))
      .select(expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))")
        .as("mid"))
    val pu = ev.crossJoin(broadcast(span))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" &&
          to_date(col("ts")) <= col("mid"), col("value").cast(Qty))
          .otherwise(lit(0).cast(Qty))).as("x"),
        sum(when(col("event_type") === "purchase" &&
          to_date(col("ts")) > col("mid"), col("value").cast(Qty))
          .otherwise(lit(0).cast(Qty))).as("y"))
      .withColumn("t_arm", (col("user_id") % 2 === 0).cast("int"))
    val m = pu.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d388)).cast("double").as("sx"),
      sum(col("y").cast(d388)).cast("double").as("sy"),
      sum((col("x") * col("x")).cast(d388)).cast("double").as("sxx"),
      sum((col("x") * col("y")).cast(d388)).cast("double").as("sxy"),
      sum((col("y") * col("y")).cast(d388)).cast("double").as("syy"),
      sum(col("t_arm").cast("long")).as("n_t"),
      sum(when(col("t_arm") === 1, col("x").cast(d388))
        .otherwise(lit(0).cast(d388))).cast("double").as("sx_t"),
      sum(when(col("t_arm") === 1, col("y").cast(d388))
        .otherwise(lit(0).cast(d388))).cast("double").as("sy_t"))
    val nd = col("n").cast("double"); val ntd = col("n_t").cast("double")
    val ncd = nd - ntd
    val mx = col("sx") / nd; val my = col("sy") / nd
    val varX = col("sxx") / nd - mx * mx
    val varY = col("syy") / nd - my * my
    val covXY = col("sxy") / nd - mx * my
    val theta = covXY / varX
    val rho2 = covXY * covXY / (varX * varY)
    val mxT = col("sx_t") / ntd; val mxC = (col("sx") - col("sx_t")) / ncd
    val myT = col("sy_t") / ntd; val myC = (col("sy") - col("sy_t")) / ncd
    val diffRaw = myT - myC
    // both-arms guard: an all-one-parity cohort zeroes ntd or ncd, and
    // 0/0 is engine-specific (Spark NULL vs DuckDB IEEE NaN/inf) — the
    // same degenerate-path discipline as the varX/varY guard
    val okArms = col("n_t") > 0L && col("n_t") < col("n")
    val ok = okArms && varX > 0d && varY > 0d
    m.select(col("n").as("n_users"), col("n_t").as("n_treatment"),
      r6(when(ok, theta)).as("theta"),
      r6(when(ok, rho2)).as("var_reduction"),
      r4(when(okArms, diffRaw)).as("diff_raw"),
      r4(when(ok, diffRaw - theta * (mxT - mxC))).as("diff_cuped"))
  }

  /** Over-dispersion test + negative-binomial moment fit for per-user
    * event counts — the "is Poisson actually the right model" check
    * that should precede every rate-based anomaly rule
    * ([[eventsPoissonAnomaly]] assumes variance ≈ mean; real user
    * activity is usually over-dispersed, and a Poisson threshold on NB
    * data fires constantly). Dispersion index D = var/mean; when
    * D > 1 the NB method-of-moments parameters r = m²/(v−m),
    * p = m/v are reported (NULL when the data is at-or-under Poisson
    * dispersion — the fit doesn't exist there). All moments are exact
    * integer sums (counts of counts) in one per-user agg + one
    * moment agg, both map-side combined. */
  def aggOverdispersionNb(spark: SparkSession, dir: String): DataFrame = {
    val pu = table(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("k"))
    val m = pu.agg(count(lit(1)).as("n"),
      sum(col("k")).as("sk"),
      sum(col("k") * col("k")).as("skk"))
    val nd = col("n").cast("double")
    val mean = col("sk").cast("double") / nd
    val vr = col("skk").cast("double") / nd - mean * mean
    val disp = vr / mean
    val over = vr > mean
    m.select(col("n").as("n_users"),
      r4(mean).as("mean_events"), r4(vr).as("var_events"),
      r4(disp).as("dispersion_index"),
      (disp > lit(1.2)).as("overdispersed"),
      r4(when(over, mean * mean / (vr - mean))).as("nb_r"),
      r6(when(over, mean / vr)).as("nb_p"))
  }

  /** KMV (k-minimum-values) distinct-count sketch AUDIT — the third
    * cardinality rung next to HLL (`agg_approx_distinct`, opaque
    * estimator) and exact `countDistinct`: KMV is the sketch whose
    * estimate is REPLAYABLE in plain SQL, so unlike HLL it can sit
    * under the differential gate. Per key column: hash every value
    * (md5 → first 12 hex = 48 bits, the one hash both engines spell
    * identically), keep the k=64 smallest DISTINCT hash values, and
    * estimate distinct = (k−1) · 2^48 / h_(k) (Bar-Yossef et al. 2002).
    * Fewer than k distinct values → the sketch IS the exact count.
    * Scale: the sketch side is a distinct-shuffle + TakeOrdered(k) per
    * column — mergeable map-side (each partition's top-k carries up),
    * 64 longs of state at any width; the exact countDistinct exists
    * only because this query's JOB is to measure the sketch's error
    * against truth. One IEEE division per row, r4-rounded. */
  def aggKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val li = table(spark, dir, "lineitem")
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
    def h(c: String) = conv(substring(
      md5(col(c).cast("string").cast("binary")), 1, 12), 16, 10).cast("long")
    // ONE pass for all three sketches: 3-way per-row fan-out, then the
    // native bounded MinKLongs aggregate (distinct + sorted + k-capped in
    // O(k) state, map-side partials) — the mergeable sketch itself, not
    // a distinct-shuffle + sort per column.
    val sketch = li
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), h(c).as("hv"))): _*)).as("r"))
      .groupBy(col("r").getField("col_name").as("col_name"))
      .agg(graft.functions.MinKLongsAgg
        .minKLongs(col("r").getField("hv"), k).as("mins"))
      .select(col("col_name"),
        size(col("mins")).cast("long").as("k_seen"),
        element_at(col("mins"), -1).as("hk"))
    // ONE pass for the ground truth (the audit target): a single
    // multi-countDistinct agg (Expand), joined back by column name.
    val truth = table(spark, dir, "lineitem")
      .agg(countDistinct(col(cols.head)).as(s"t0"),
        countDistinct(col(cols(1))).as("t1"),
        countDistinct(col(cols(2))).as("t2"))
      .select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("col_name"), col(s"t$i").as("true_n")) }: _*)).as("r"))
      .select(col("r").getField("col_name").as("col_name"),
        col("r").getField("true_n").as("true_n"))
    sketch.join(broadcast(truth), "col_name")
      .withColumn("est_n",
        r4(when(col("k_seen") < k, col("k_seen").cast("double"))
          .otherwise((col("k_seen") - 1).cast("double")
            * lit(281474976710656.0) / col("hk").cast("double"))))
      .withColumn("rel_err",
        r6(abs(col("est_n") - col("true_n").cast("double"))
          / col("true_n").cast("double")))
      .select("col_name", "k_seen", "true_n", "est_n", "rel_err")
      .orderBy("col_name")
  }

  /** Per-type daily-mean series for [[eventsKalmanFilter]]: the day mean
    * is an exact decimal sum over an exact long count, r6-pinned BEFORE
    * the recursion so both engines fold identical inputs. */
  private def kalmanSeries(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"), dateS(col("ts")).as("d"))
      .agg(dsum(col("value"), Qty).as("s"), count(lit(1)).as("n"))
      .withColumn("y", r6(col("s") / col("n").cast("double")))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("d"), col("y")))).as("seq"))
      .select(col("event_type"),
        transform(col("seq"), s => s.getField("y")).as("vals"))

  /** The q=0.1 / r=1 random-walk Kalman fold (state [x, p, gain], all
    * steps r6-quantized): predict p⁺ = p + q, gain K = p⁺/(p⁺ + r),
    * update x' = x + K(z − x), p' = (1 − K)p⁺. Seeds x₁ = y₁, p₁ = 1.
    * Unlike the fixed-gain Holt/EWMA folds, the gain TRAJECTORY is part
    * of the state — early observations move the level harder, and the
    * gain converges to the steady-state Riccati value; the final gain in
    * the output is the convergence witness. */
  private def kalmanFoldCol(vals: Column): Column =
    aggregate(
      slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
      struct(element_at(vals, 1).as("x"), lit(1.0).as("p"), lit(0.0).as("kg")),
      (acc, z) => {
        val pp = r6(acc.getField("p") + lit(0.1))
        val kg = r6(pp / (pp + lit(1.0)))
        val xn = r6(acc.getField("x") + kg * (z - acc.getField("x")))
        struct(xn.as("x"), r6((lit(1.0) - kg) * pp).as("p"), kg.as("kg"))
      })

  /** STATE-SPACE filter over the per-type daily mean — the evolving-gain
    * sibling of the fixed-gain smoothers (`events_ewma` α-fixed,
    * `events_holt_forecast` α/β-fixed): a 1-D random-walk Kalman filter
    * whose gain is recomputed from the error covariance every step.
    * Same single-gathered-row fold shape as Holt (the series is
    * calendar-bounded, ~10³ days regardless of corpus width), so the
    * recursion costs one row per event_type, not a pass per day.
    * Output per type: final level, posterior variance, converged gain,
    * and the last-day residual z_n − x_n (the filter's innovation
    * witness). */
  def eventsKalmanFilter(spark: SparkSession, dir: String): DataFrame =
    kalmanSeries(spark, dir)
      .filter(size(col("vals")) >= 2)
      .select(col("event_type"), size(col("vals")).cast("long").as("n_days"),
        kalmanFoldCol(col("vals")).as("st"),
        element_at(col("vals"), -1).as("z_last"))
      .select(col("event_type"), col("n_days"),
        r6(col("st").getField("x")).as("level"),
        r6(col("st").getField("p")).as("p_post"),
        r6(col("st").getField("kg")).as("gain"),
        r6(col("z_last") - col("st").getField("x")).as("resid_last"))
      .orderBy("event_type")

  /** exp(−0.5k)·1e6 rounded, k = 0..14 — the Hawkes kernel as integer
    * micro-weights, shared as literals by both engines (no libm in
    * either row path, the `events_periodogram` discipline). */
  private val HawkesW = Seq(1000000L, 606531L, 367879L, 223130L, 135335L,
    82085L, 49787L, 30197L, 18316L, 11109L, 6738L, 4087L, 2479L, 1503L, 912L)

  /** SELF-EXCITING intensity (Hawkes process, exponential kernel, day
    * granularity): at each day a user is active, λ = Σ_{k=0..14}
    * c[d−k] · exp(−k/2), evaluated in EXACT integer micro-units via the
    * shared [[HawkesW]] literal kernel — every product and sum is a
    * long, so cross-engine agreement is exact, and the one division
    * (the per-user mean) is a single r6-rounded IEEE op. Shape: the
    * (user, day) activity grid × 15 kernel offsets → hash re-group on
    * (user, day) — linear in active days, kernel-bounded fan-out, no
    * self-join over raw events; the peak pick is a partitioned
    * row_number window (per-user frames, never a global sort). The
    * burst-detection spelling of streaming triage: who spiked, when,
    * how hard relative to their own baseline. */
  def eventsHawkesIntensity(spark: SparkSession, dir: String): DataFrame = {
    val grid = table(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
      .withColumn("di", datediff(col("d"), to_date(lit("1970-01-01")))
        .cast("long"))
    val offs = HawkesW.zipWithIndex.map { case (w, kk) =>
      struct(lit(kk.toLong).as("k"), lit(w).as("w")) }
    val inten = grid
      .select(col("user_id"), col("di"), col("c"),
        explode(array(offs: _*)).as("o"))
      .select(col("user_id"),
        (col("di") + col("o").getField("k")).as("ti"),
        (col("c") * col("o").getField("w")).as("part"))
      .groupBy("user_id", "ti")
      .agg(sum(col("part")).as("inten"))
    val at = inten
      .join(grid.select(col("user_id"), col("di").as("ti")), Seq("user_id", "ti"))
    val w = Window.partitionBy("user_id")
    val ord = Window.partitionBy("user_id")
      .orderBy(desc("inten"), col("ti"))
    at.withColumn("rn", row_number().over(ord))
      .withColumn("n_days", count(lit(1)).over(w))
      .withColumn("tot", sum(col("inten")).over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_days"),
        col("ti").as("peak_di"), col("inten").as("peak_intensity"),
        r6(col("tot").cast("double") / col("n_days").cast("double")
          / lit(1e6)).as("mean_intensity"))
      .orderBy("user_id")
  }

  /** Delete-one-block JACKKNIFE variance of a ratio metric — the
    * standard error an experimentation platform quotes for revenue-per-
    * event, where the naive per-row variance is WRONG because rows
    * within a day are correlated: days are the jackknife blocks, each
    * leave-one-day-out replicate re-computes the ratio from the
    * complement's exact totals, and the jackknife variance is
    * (n−1)/n · Σ(θᵢ − θ̄)². Complements come from the group totals by
    * SUBTRACTION — one daily hash agg + one broadcast of the one-row
    * total, never n re-aggregations of the corpus (the delete-1 algebra
    * every block-resampling method rides at scale; bootstrap pays B
    * replicates, jackknife pays one pass). Exactness discipline: value
    * cents sum as exact longs; each θᵢ quantizes to 1e-6 integer units
    * BEFORE the mean, each squared deviation to 1e-12 units before the
    * variance sum (order-independent integer sums; the lone sqrt is
    * IEEE-correctly-rounded in both engines). */
  def aggJackknifeVariance(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n_d"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("s_d"))
    val tot = daily.agg(count(lit(1)).as("n_days"),
      sum(col("n_d")).as("n_tot"), sum(col("s_d")).as("s_tot"))
    // Degenerate-corpus guard (the eventsBassDiffusion discipline): a
    // single-day corpus makes the complement empty (n_tot − n_d = 0),
    // and an unguarded division would emit floor(NaN·…) — engine-
    // divergent (or an ANSI error) instead of NULL. Guarded, every
    // downstream sum/sqrt propagates NULL identically in both engines.
    val thetas = daily.crossJoin(broadcast(tot))
      .withColumn("k_i", when(col("n_tot") - col("n_d") > 0, floor(
        (col("s_tot") - col("s_d")).cast("double") / lit(100.0) /
          (col("n_tot") - col("n_d")).cast("double") * lit(1e6) + 0.5)
        .cast("long")).otherwise(lit(null).cast("long")))
    val kbar = thetas.agg(sum(col("k_i")).as("sum_k"))
    val terms = thetas.crossJoin(broadcast(kbar))
      .withColumn("theta_bar",
        col("sum_k").cast("double") / lit(1e6) / col("n_days").cast("double"))
      .withColumn("dev",
        col("k_i").cast("double") / lit(1e6) - col("theta_bar"))
      .withColumn("t_i",
        floor(col("dev") * col("dev") * lit(1e12) + 0.5).cast("long"))
    terms
      .agg(max(col("n_days")).as("n_blocks"), max(col("n_tot")).as("n_rows"),
        max(col("s_tot")).as("s_tot"), sum(col("t_i")).as("sum_t"))
      .select(col("n_blocks"), col("n_rows"),
        r6(col("s_tot").cast("double") / lit(100.0) /
          col("n_rows").cast("double")).as("theta_hat"),
        when(col("n_blocks") > 1,
          r6(sqrt((col("n_blocks") - 1).cast("double") /
            col("n_blocks").cast("double") *
            (col("sum_t").cast("double") / lit(1e12)))))
          .otherwise(lit(null).cast("double")).as("jk_se"),
        when(col("n_blocks") > 1,
          r6(col("s_tot").cast("double") / lit(100.0) /
            col("n_rows").cast("double") -
            lit(1.96) * sqrt((col("n_blocks") - 1).cast("double") /
              col("n_blocks").cast("double") *
              (col("sum_t").cast("double") / lit(1e12)))))
          .otherwise(lit(null).cast("double")).as("ci_lo"),
        when(col("n_blocks") > 1,
          r6(col("s_tot").cast("double") / lit(100.0) /
            col("n_rows").cast("double") +
            lit(1.96) * sqrt((col("n_blocks") - 1).cast("double") /
              col("n_blocks").cast("double") *
              (col("sum_t").cast("double") / lit(1e12)))))
          .otherwise(lit(null).cast("double")).as("ci_hi"))
  }

  /** Deterministic keyed RESERVOIR sample (k = 32 per event_type) as a
    * MERGEABLE SKETCH, not a window: selection priority is the md5 hash
    * of the row key (uniform-random yet identical on every engine,
    * retry, and partitioning — the hash-priority discipline of
    * `pipe_sample_hash`/`pipe_token_budget_sample`), and the k smallest
    * (priority, id) pairs per group are kept by the bounded min-k
    * aggregate ([[graft.functions.MinKLongsAgg]]): per-group state is
    * ≤ k packed longs regardless of group size, merges are associative
    * (map-side partials combine at shuffle boundaries), so this is the
    * one-pass Algorithm-R-equivalent that works at 100 TB where the
    * row_number-over-window spelling of `pipe_sample_topk_hash` must
    * sort each group. Pack: 14 priority bits · 2⁴⁸ + event_id (ids are
    * < 2⁴⁸ by generation; 14 bits keeps packed < 2⁶³) — packed order ≡
    * (priority asc, id asc), ties impossible. Both packing assumptions
    * are ASSERTED, not trusted: the row path raises on any event_id
    * outside [0, 2⁴⁸), and the retrieval join — which requires
    * event_id unique within event_type — raises if n_sample drifts
    * from the selected-id count (a duplicate would over-count the
    * sample silently otherwise). Retrieval is the second half of the
    * sketch-select pattern: the G·k selected ids broadcast back
    * against the corpus to fetch values, and the output compares the
    * sample mean against the exact population mean per group. */
  def aggReservoirSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val ev = table(spark, dir, "events")
    val h48 = conv(substring(
      md5(col("event_id").cast("string").cast("binary")), 1, 12), 16, 10)
      .cast("long")
    // Loud invariant (ADVICE r15 #3): the pack is only order-preserving
    // while event_id < 2⁴⁸ — a future corpus with wider ids would
    // silently corrupt both selection order and id extraction, so the
    // row path asserts it (assert_true is NULL on pass, throws on fail;
    // the coalesce keeps the packed value un-nulled).
    val idFits = coalesce(assert_true(col("event_id") >= 0 &&
      col("event_id") < lit(281474976710656L),
      lit("agg_reservoir_sample: event_id outside [0, 2^48) breaks the " +
        "priority pack")).cast("long"), lit(0L))
    val packed = shiftright(h48, 34) * lit(281474976710656L) +
      col("event_id") + idFits
    val sel = ev.groupBy("event_type")
      .agg(graft.functions.MinKLongsAgg.minKLongs(packed, k).as("sel"),
        count(lit(1)).as("n_total"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents_total"))
    val ids = sel
      .select(col("event_type"), explode(col("sel")).as("p"))
      .select(col("event_type"),
        (col("p") % lit(281474976710656L)).as("event_id"))
    val samp = ev.join(broadcast(ids), Seq("event_type", "event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_sample"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents_sample"),
        min(col("event_id")).as("min_sample_id"),
        max(col("event_id")).as("max_sample_id"))
    // Second loud invariant: the retrieval join REQUIRES event_id unique
    // within event_type (the fixture generates it unique globally) — a
    // duplicate would over-count n_sample vs the selected-id count, so
    // the guard compares them and fails the query instead of skewing
    // the sample silently.
    samp.join(broadcast(sel.withColumn("n_sel", size(col("sel")).cast("long"))
        .drop("sel")), "event_type")
      .where(coalesce(assert_true(col("n_sample") === col("n_sel"),
        lit("agg_reservoir_sample: duplicate event_id within event_type " +
          "over-counted the sample")), lit(true)))
      .select(col("event_type"), col("n_total"), col("n_sample"),
        col("min_sample_id"), col("max_sample_id"),
        r6(col("cents_sample").cast("double") / lit(100.0) /
          col("n_sample").cast("double")).as("sample_mean"),
        r6(col("cents_total").cast("double") / lit(100.0) /
          col("n_total").cast("double")).as("pop_mean"))
      .orderBy("event_type")
  }

  /** WINSORIZED mean — the robust location estimate that CLAMPS tails
    * instead of dropping them (`agg_trimmed_mean`'s sibling; trimming
    * changes n, winsorizing preserves it): per group, values below the
    * exact interpolated p05 (above p95) are replaced by that percentile,
    * then averaged. The percentile selection rides the bounded-state
    * two-level bucket cumsum ([[exactPercentilesSelect]] — state bounded
    * by the value DOMAIN, no per-group value multiset, the r14 rank-
    * statistic respell), the group-sized (grp, lo, hi) frame broadcasts
    * back, and the clamped mean sums exact 1e-6 integer units so the
    * result is summation-order-independent in both engines. */
  def aggWinsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    // The interpolated percentile feeds a BRANCH here (the clamp compare),
    // and Spark's (hi−pos)·vlo+(pos−lo)·vhi vs DuckDB's
    // vlo+frac·(vhi−vlo) are algebraically equal but not IEEE-identical —
    // so the bounds are r6-quantized (the shared floor spelling) BEFORE
    // any comparison, keeping the engine rule that only identically-
    // spelled IEEE ops cross a branch (ADVICE r15 #4).
    // r16 optimization round: the clamp pass aggregates the SAME
    // materialized histogram (l_quantity has ~50 distinct values per
    // group, so this pass touches a model-sized frame instead of every
    // raw row; Σ_rows cu ≡ Σ_hist cu·c exactly — cu is a function of v
    // alone). One corpus scan total.
    val hist = bucketedHist(
      li.select(col("l_returnflag").as("grp"), col("l_quantity").as("v")),
      10.0)
    val qb = exactPercentilesSelectOver(hist, Seq(("lo", 0.05), ("hi", 0.95)))
      .select(col("grp"), r6(col("lo")).as("lo"), r6(col("hi")).as("hi"))
    hist.select(col("grp"), col("v"), col("c"))
      .join(broadcast(qb), "grp")
      .withColumn("cw",
        when(col("v") < col("lo"), col("lo"))
          .when(col("v") > col("hi"), col("hi"))
          .otherwise(col("v").cast("double")))
      .withColumn("cu", floor(col("cw") * lit(1e6) + 0.5).cast("long"))
      .groupBy("grp")
      .agg(sum(col("c")).as("n"),
        sum(when(col("v") < col("lo"), col("c")).otherwise(0L)).as("n_lo"),
        sum(when(col("v") > col("hi"), col("c")).otherwise(0L)).as("n_hi"),
        max(col("lo")).as("p05"), max(col("hi")).as("p95"),
        sum(col("cu") * col("c")).as("su"))
      .select(col("grp").as("l_returnflag"), col("n"),
        col("n_lo"), col("n_hi"),
        r4(col("p05")).as("p05"), r4(col("p95")).as("p95"),
        r6(col("su").cast("double") / lit(1e6) / col("n").cast("double"))
          .as("win_mean_qty"))
      .orderBy("l_returnflag")
  }

  /** SPLIT-CONFORMAL prediction interval — the distribution-free
    * uncertainty wrapper every model-quality gate can use without
    * assuming a residual distribution: fit on the train split (here the
    * per-group mean — the simplest exchangeable predictor), take the
    * ⌈(n+1)(1−α)⌉-th smallest absolute residual on the CALIBRATION
    * split as the half-width q, and the interval μ ± q then covers a
    * fresh point with probability ≥ 1−α by the exchangeability
    * argument alone (Vovk et al.; Lei et al. 2018 split-conformal).
    * α = 0.1; the three splits come from the shared md5 row-hash mod 4
    * (2 train : 1 calib : 1 test), so membership is deterministic on
    * every engine and retry. EXACTLY REPLAYABLE: the predictor is
    * integer milli-cents via integer division, residuals are integers,
    * the calibration quantile is an exact ORDER STATISTIC selected on
    * the bounded two-level bucket cumsum ([[groupedCumHist]] — no
    * per-group value multiset at any scale), and the coverage compare
    * is integer-vs-integer, so no IEEE op crosses a branch anywhere.
    * Shape at 100 TB: three linear scans with map-side-combinable
    * aggs, group-sized frames broadcast back — the norm-outlier
    * stats-broadcast shape; integer sums pass 2⁵³ only beyond ~10⁹
    * rows per group (switch sum_c to DECIMAL + dec2d there). */
  def aggConformalInterval(spark: SparkSession, dir: String): DataFrame = {
    // r16 optimization round: the three split passes (train / calib /
    // test) each re-scanned lineitem and re-derived the md5 row hash —
    // 3× the corpus's md5 work for one query. The 17-byte-per-row
    // (grp, cents, split) projection is materialized ONCE
    // (iterCheckpoint) and all three passes filter it: one scan, one
    // md5 pass — the guide §8 decide-on-small-rows shape (the heavy
    // expression runs once; what is re-read is the narrow proxy).
    val li = iterCheckpoint(table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("grp"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
        pmod(conv(substring(md5(concat(col("l_orderkey").cast("string"),
          lit("_"), col("l_linenumber").cast("string")).cast("binary")),
          1, 12), 16, 10).cast("long"), lit(4L)).as("split")))
    val train = li.filter(col("split") <= 1).groupBy("grp")
      .agg(count(lit(1)).as("n_train"), sum(col("cents")).as("sum_c"))
      .select(col("grp"), col("n_train"),
        expr("(10 * sum_c) div n_train").as("mu10"))
    val cal = li.filter(col("split") === 2)
      .join(broadcast(train.select("grp", "mu10")), "grp")
      .select(col("grp"), abs(col("cents") * 10 - col("mu10")).as("v"))
    // n_cal rides the hist's own per-group total (`tot`), so the
    // calibration split is scanned only by the hist build — no separate
    // counting pass over the split (r16: one fewer lineitem scan+md5).
    val qSel = groupedCumHist(cal, 1e6)
      .withColumn("n_cal", col("tot"))
      .withColumn("k",
        least(expr("(9 * (n_cal + 1) + 9) div 10"), col("n_cal")))
      .groupBy("grp", "n_cal", "k")
      .agg(min(when(col("cum") >= col("k"), col("v"))).as("q10"))
    li.filter(col("split") === 3)
      .join(broadcast(train), "grp")
      .join(broadcast(qSel.select("grp", "n_cal", "q10")), "grp")
      .groupBy(col("grp"), col("n_train"), col("mu10"), col("n_cal"),
        col("q10"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("cents") * 10 - col("mu10")) <= col("q10"), 1L)
          .otherwise(0L)).as("n_covered"))
      .select(col("grp").as("l_returnflag"),
        col("n_train"), col("n_cal"), col("n_test"),
        r6(col("mu10").cast("double") / lit(1000.0)).as("mu"),
        r6(col("q10").cast("double") / lit(1000.0)).as("q_width"),
        r6((col("mu10") - col("q10")).cast("double") / lit(1000.0)).as("lo"),
        r6((col("mu10") + col("q10")).cast("double") / lit(1000.0)).as("hi"),
        r6(col("n_covered").cast("double") / col("n_test").cast("double"))
          .as("coverage"))
      .orderBy("l_returnflag")
  }

  /** AS-OF join against an SCD2 dimension with GROUPED BACKFILL — the
    * feature-store pattern one rung past [[joinPitFeatures]]: the
    * dimension is a slowly-changing attribute with validity intervals
    * (each order day versions the customer's tier to that day's
    * highest-orderkey priority — the [[graft.ops.PipelineOps.scd2Intervals]]
    * interval model), each fact resolves the version valid AT its
    * timestamp (≥ semantics: a same-instant version IS visible —
    * [[joinPitFeatures]] is the strict-< sibling), and facts EARLIER
    * than the entity's first version BACKFILL to that first version
    * (flagged, never silently) — entities with no versions at all
    * resolve to the 'NONE' sentinel. Shape at scale: the whole
    * resolution is ONE union-tag pass — three frames (as-of last,
    * global first for the backfill) over the same (uid)-partitioned
    * ordering, so Spark plans a single Window exec on a single
    * shuffle+sort; no dimension row ever fans out per fact. Ties:
    * versions sort BEFORE facts at an equal instant (is_fact asc), and
    * event_id breaks fact-fact ties; two versions can never tie (one
    * per (uid, day)). */
  def joinAsofGroupedBackfill(spark: SparkSession, dir: String): DataFrame = {
    val dim = table(spark, dir, "orders")
      .groupBy(col("o_custkey").as("uid"),
        to_date(col("o_orderdate")).as("vfrom"))
      .agg(max(struct(col("o_orderkey"), col("o_orderpriority")))
        .getField("o_orderpriority").as("tier"))
    val dimRows = dim.select(col("uid"),
      unix_micros(col("vfrom").cast("timestamp")).as("t_us"),
      lit(0).as("is_fact"), lit(null).cast("long").as("event_id"),
      lit(null).cast("string").as("ts_s"),
      col("tier"), dateS(col("vfrom")).as("vfrom_s"))
    val facts = table(spark, dir, "events")
      .select(col("user_id").as("uid"), unix_micros(col("ts")).as("t_us"),
        lit(1).as("is_fact"), col("event_id"), tsS(col("ts")).as("ts_s"),
        lit(null).cast("string").as("tier"),
        lit(null).cast("string").as("vfrom_s"))
    val ord = Window.partitionBy("uid")
      .orderBy(col("t_us"), col("is_fact"), col("event_id"))
    val asofW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fullW = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    dimRows.unionByName(facts)
      .withColumn("asof_tier", last(col("tier"), ignoreNulls = true).over(asofW))
      .withColumn("asof_from",
        last(col("vfrom_s"), ignoreNulls = true).over(asofW))
      .withColumn("first_tier",
        first(col("tier"), ignoreNulls = true).over(fullW))
      .withColumn("first_from",
        first(col("vfrom_s"), ignoreNulls = true).over(fullW))
      .filter(col("is_fact") === 1)
      .select(col("event_id"), col("uid").as("user_id"), col("ts_s"),
        coalesce(col("asof_tier"), col("first_tier"), lit("NONE")).as("tier"),
        coalesce(col("asof_from"), col("first_from")).as("tier_from_s"),
        when(col("asof_tier").isNotNull, "asof")
          .when(col("first_tier").isNotNull, "backfill")
          .otherwise("none").as("src"))
      .orderBy("event_id")
  }

  /** BASS DIFFUSION fit over the adoption curve — the product-growth
    * model behind "innovators vs imitators" forecasts: users adopt on
    * their first event day, daily adoptions N_t regress on cumulative
    * prior adopters via the discrete Bass identity
    * N_t = a + b·Y_{t−1} + c·Y²_{t−1}, and (p, q, M) come from the
    * closed-form root M = (−b − √(b²−4ac)) / 2c, p = a/M, q = b + p.
    * Shape at scale: one hash agg to first-event days, one to the
    * ≤|days| daily frame; the quadratic OLS is the [[aggOlsMulti]]
    * one-pass moment pattern (exact decimal sums → [[Util.dec2d]]
    * limb-bridged doubles → Cramer with oracle-identical
    * parenthesization — the quartic moment Σ Y⁴ passes 2⁵³ unscaled, so
    * the plain double cast would already diverge). The peak day is the
    * argmax of the FITTED curve over the observed grid (arithmetic
    * only — no logs, libm stays out of the parity surface). */
  def eventsBassDiffusion(spark: SparkSession, dir: String): DataFrame = {
    val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = table(spark, dir, "events")
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("d"))
      .groupBy("d").agg(count(lit(1)).as("v"))
    val ord = Window.orderBy("d")
    val base = daily
      .withColumn("y", coalesce(
        sum(col("v")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("y2", col("y") * col("y"))
    val s = base.agg(
      count(lit(1)).as("n"),
      sum(col("y").cast(d380)).as("s1"),
      sum(col("y2").cast(d380)).as("s2"),
      sum(col("y2").cast(d380) * col("y").cast(d380)).as("s3"),
      sum(col("y2").cast(d380) * col("y2").cast(d380)).as("s4"),
      sum(col("v").cast(d380)).as("r0"),
      sum(col("y").cast(d380) * col("v").cast(d380)).as("r1"),
      sum(col("y2").cast(d380) * col("v").cast(d380)).as("r2"))
    val dbl = s.select(col("n").cast("double").as("nd") +:
      Seq("s1", "s2", "s3", "s4", "r0", "r1", "r2")
        .map(c => dec2d(col(c), 0).as(c)): _*)
    def c(n: String) = col(n)
    val det = c("nd") * (c("s2") * c("s4") - c("s3") * c("s3")) -
      c("s1") * (c("s1") * c("s4") - c("s3") * c("s2")) +
      c("s2") * (c("s1") * c("s3") - c("s2") * c("s2"))
    val det0 = c("r0") * (c("s2") * c("s4") - c("s3") * c("s3")) -
      c("s1") * (c("r1") * c("s4") - c("s3") * c("r2")) +
      c("s2") * (c("r1") * c("s3") - c("s2") * c("r2"))
    val det1 = c("nd") * (c("r1") * c("s4") - c("s3") * c("r2")) -
      c("r0") * (c("s1") * c("s4") - c("s3") * c("s2")) +
      c("s2") * (c("s1") * c("r2") - c("r1") * c("s2"))
    val det2 = c("nd") * (c("s2") * c("r2") - c("r1") * c("s3")) -
      c("s1") * (c("s1") * c("r2") - c("r1") * c("s2")) +
      c("r0") * (c("s1") * c("s3") - c("s2") * c("s2"))
    // every division guarded by when(): a degenerate corpus (single
    // adoption day ⇒ det = 0) must yield NULL fits, not an ANSI
    // divide-by-zero (Spark 4 errors on double /0 too)
    val sol = s.select(col("n")).crossJoin(broadcast(
      dbl.select(det.as("det"),
        when(abs(det) > 0, det0 / det).as("ba"),
        when(abs(det) > 0, det1 / det).as("bb"),
        when(abs(det) > 0, det2 / det).as("bc"))))
      .withColumn("disc", greatest(
        col("bb") * col("bb") - lit(4.0) * col("ba") * col("bc"), lit(0.0)))
      .withColumn("m_hat", when(abs(col("det")) > 0 && col("bc") =!= 0.0,
        (-col("bb") - sqrt(col("disc"))) / (lit(2.0) * col("bc"))))
      .withColumn("p", when(col("m_hat") =!= 0.0, col("ba") / col("m_hat")))
      .withColumn("q", when(col("m_hat").isNotNull, col("bb") + col("p")))
    val peak = base.crossJoin(broadcast(
        sol.select(col("ba").as("pa"), col("bb").as("pb"), col("bc").as("pc"))))
      .select(col("d"),
        r6(col("pa") + col("pb") * col("y").cast("double") +
          col("pc") * col("y2").cast("double")).as("fitted"))
      .orderBy(desc("fitted"), col("d")).limit(1)
      .select(dateS(col("d")).as("peak_day"), col("fitted").as("peak_fitted"))
    sol.crossJoin(broadcast(peak))
      .select(col("n").as("n_days"), r4(col("m_hat")).as("m_hat"),
        r6(col("p")).as("p_innov"), r6(col("q")).as("q_imit"),
        col("peak_day"), col("peak_fitted"))
  }

  /** T-DIGEST quantile estimation with a Spark-verified rank-error
    * contract — the mergeable quantile sketch next to the engine's
    * HLL/CMS/KMV family (the one sketch class that was missing): each
    * split digests into O(δ) centroids ([[graft.functions.TDigestAgg]]),
    * partials merge at shuffle boundaries, and rank statistics come out
    * of KBs of state instead of a global sort — the only shape that
    * gets a p75 out of 100 TB cheaply. The estimate depends on
    * partition order (inherent to merging digests), so the declared
    * output is the [[aggApproxDistinct]] FLAG pattern: the EXACT
    * quantile (dyadic q over integer cents — the interpolation
    * arithmetic is exact in both engines) plus `within_bound`, the
    * empirical rank error of the digest's estimate checked against a
    * 0.02 tolerance (δ=100 bounds it near 2/δ·q(1−q) ≤ 0.005 — wide
    * margin). The rank check itself is ONE conditional pass over the
    * corpus against the broadcast 3-estimate row — never a sort. */
  def aggTdigestQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("grp"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
    // the exact-truth side rides the bounded-state selection
    // (exactPercentilesSelect), not the per-group multiset buffer;
    // r16 optimization round: the rank check below shares this
    // materialized histogram instead of scanning lineitem a third time
    // (Σ_rows [cents ≤ e] ≡ Σ_hist [v ≤ e]·c exactly)
    val hist = bucketedHist(
      li.select(col("grp"), col("cents").cast("double").as("v")), 100000.0)
    val exact = exactPercentilesSelectOver(
      hist, Seq(("x1", 0.25), ("x2", 0.5), ("x3", 0.75)))
    val est = li.groupBy("grp")
      .agg(graft.functions.TDigestAgg.tdigestQuantiles(
          col("cents").cast("double"), 100.0, Seq(0.25, 0.5, 0.75)).as("est"),
        count(lit(1)).as("n"))
      .join(broadcast(exact.drop("n")), "grp")
      .select(col("grp"), col("n"),
        element_at(col("est"), 1).as("e1"),
        element_at(col("est"), 2).as("e2"),
        element_at(col("est"), 3).as("e3"),
        col("x1"), col("x2"), col("x3"))
    val ranks = hist.join(broadcast(est), "grp")
      .groupBy("grp")
      .agg(max(col("n")).as("n"),
        max(col("x1")).as("x1"), max(col("x2")).as("x2"),
        max(col("x3")).as("x3"),
        sum(when(col("v") <= col("e1"), col("c"))
          .otherwise(0L)).as("r1"),
        sum(when(col("v") <= col("e2"), col("c"))
          .otherwise(0L)).as("r2"),
        sum(when(col("v") <= col("e3"), col("c"))
          .otherwise(0L)).as("r3"))
    def bound(r: Column, q: Double): Column =
      abs(r.cast("double") / col("n").cast("double") - lit(q)) <= lit(0.02)
    ranks
      .select(col("grp"), col("n"), explode(array(
        struct(lit(0.25).as("q"), col("x1").as("exact_cents"),
          bound(col("r1"), 0.25).as("within_bound")),
        struct(lit(0.5).as("q"), col("x2").as("exact_cents"),
          bound(col("r2"), 0.5).as("within_bound")),
        struct(lit(0.75).as("q"), col("x3").as("exact_cents"),
          bound(col("r3"), 0.75).as("within_bound")))).as("z"))
      .select(col("grp"), col("z.q"), col("n"), col("z.exact_cents"),
        col("z.within_bound"))
      .orderBy("grp", "q")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_tdigest_quantiles" -> (aggTdigestQuantiles _),
    "events_bass_diffusion" -> (eventsBassDiffusion _),
    "agg_jackknife_variance" -> (aggJackknifeVariance _),
    "agg_reservoir_sample" -> (aggReservoirSample _),
    "agg_conformal_interval" -> (aggConformalInterval _),
    "join_asof_grouped_backfill" -> (joinAsofGroupedBackfill _),
    "agg_winsorized_mean" -> (aggWinsorizedMean _),
    "agg_kmv_distinct" -> (aggKmvDistinct _),
    "events_kalman_filter" -> (eventsKalmanFilter _),
    "events_hawkes_intensity" -> (eventsHawkesIntensity _),
    "agg_overdispersion_nb" -> (aggOverdispersionNb _),
    "agg_cuped_adjustment" -> (aggCupedAdjustment _),
    "agg_markov_attribution" -> (aggMarkovAttribution _),
    "agg_shapley_channel" -> (aggShapleyChannel _),
    "sort_pareto_skyline" -> (sortParetoSkyline _),
    "agg_logistic_irls" -> (aggLogisticIrls _),
    "events_cumulative_users" -> (eventsCumulativeUsers _),
    "events_srm_check" -> (eventsSrmCheck _),
    "agg_capture_recapture" -> (aggCaptureRecapture _),
    "events_theil_sen" -> (eventsTheilSen _),
    "agg_bh_fdr" -> (aggBhFdr _),
    "agg_bootstrap_ci" -> (aggBootstrapCi _),
    "agg_ols_multi" -> (aggOlsMulti _),
    "agg_spearman" -> (aggSpearman _),
    "agg_anova_f" -> (aggAnovaF _),
    "agg_interval_union" -> (aggIntervalUnion _),
    "agg_quantile_histogram" -> (aggQuantileHistogram _),
    "agg_kendall_tau" -> (aggKendallTau _),
    "window_bollinger" -> (windowBollinger _),
    "window_rsi" -> (windowRsi _),
    "window_rolling_skew" -> (windowRollingSkew _),
    "events_periodogram" -> (eventsPeriodogram _),
    "events_granger" -> (eventsGranger _),
    "agg_cramers_v" -> (aggCramersV _),
    "events_retention_fit" -> (eventsRetentionFit _),
    "events_sprt_sequential" -> (eventsSprtSequential _),
    "agg_em_mixture" -> (aggEmMixture _),
    "events_power_analysis" -> (eventsPowerAnalysis _),
    "events_stl_decompose" -> (eventsStlDecompose _),
    "events_uplift_did" -> (eventsUpliftDid _),
    "agg_theil_decomposition" -> (aggTheilDecomposition _),
    "agg_hhi_concentration" -> (aggHhiConcentration _),
    "events_poisson_anomaly" -> (eventsPoissonAnomaly _),
    "agg_countmin_heavy" -> (aggCountMinHeavy _),
    "events_metric_decomposition" -> (eventsMetricDecomposition _),
    "agg_trimmed_mean" -> (aggTrimmedMean _),
    "agg_raking_weights" -> (aggRakingWeights _),
    "agg_dp_counts" -> (aggDpCounts _),
    "agg_ks_test" -> (aggKsTest _),
    "agg_mann_whitney" -> (aggMannWhitney _),
    "agg_mutual_info" -> (aggMutualInfo _),
    "join_fuzzy_match" -> (joinFuzzyMatch _),
    "events_two_proportion_z" -> (eventsTwoProportionZ _),
    "window_topk_rewrite" -> (windowTopkRewrite _),
    "agg_tukey_fences" -> (aggTukeyFences _),
    "events_autocorrelation" -> (eventsAutocorrelation _),
    "agg_price_elasticity" -> (aggPriceElasticity _),
    "events_max_drawdown" -> (eventsMaxDrawdown _),
    "agg_basket_lift" -> (aggBasketLift _),
    "agg_k_anonymity" -> (aggKAnonymity _),
    "events_heatmap_dow_hour" -> (eventsHeatmapDowHour _),
    "agg_new_vs_returning" -> (aggNewVsReturning _),
    "events_time_to_convert" -> (eventsTimeToConvert _),
    "join_pit_features" -> (joinPitFeatures _),
    "events_mix_shift" -> (eventsMixShift _),
    "events_lag_features" -> (eventsLagFeatures _),
    "agg_chi2_independence" -> (aggChi2Independence _),
    "events_conversion_ci" -> (eventsConversionCi _),
    "events_ab_ttest" -> (eventsAbTtest _),
    "agg_benford_profile" -> (aggBenfordProfile _),
    "agg_weighted_median" -> (aggWeightedMedian _),
    "events_resample_interp" -> (eventsResampleInterp _),
    "events_changepoint" -> (eventsChangepoint _),
    "window_percent_rank" -> (windowPercentRank _),
    "events_interarrival_stats" -> (eventsInterarrivalStats _),
    "events_survival_curve" -> (eventsSurvivalCurve _),
    "events_gini_pareto" -> (eventsGiniPareto _),
    "events_cohort_ltv" -> (eventsCohortLtv _),
    "events_dau_wau" -> (eventsDauWau _),
    "agg_session_window" -> (aggSessionWindow _),
    "events_cusum_shift" -> (eventsCusumShift _),
    "join_bloom_prefilter" -> (joinBloomPrefilter _),
    "events_seasonal_baseline" -> (eventsSeasonalBaseline _),
    "events_attribution" -> (eventsAttribution _),
    "agg_mode" -> (aggMode _),
    "events_zscore_outliers" -> (eventsZscoreOutliers _),
    "events_retention" -> (eventsRetention _),
    "agg_corr_regression" -> (aggCorrRegression _),
    "events_funnel" -> (eventsFunnel _),
    "events_resample_ffill" -> (eventsResampleFfill _),
    "agg_cube" -> (aggCube _),
    "scan_project_filter" -> (scanProjectFilter _),
    "join_inner_hash" -> (joinInnerHash _),
    "join_broadcast_dim" -> (joinBroadcastDim _),
    "join_left_outer" -> (joinLeftOuter _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "join_theta_range" -> (joinThetaRange _),
    "join_asof_tolerance" -> (joinAsofTolerance _),
    "join_asof_forward" -> (joinAsofForward _),
    "join_asof_nearest" -> (joinAsofNearest _),
    "join_star_schema" -> (joinStarSchema _),
    "join_topk_revenue" -> (joinTopkRevenue _),
    "events_sequence_match" -> (eventsSequenceMatch _),
    "events_streaks" -> (eventsStreaks _),
    "events_peak_concurrency" -> (eventsPeakConcurrency _),
    "events_unconverted_clicks" -> (eventsUnconvertedClicks _),
    "events_rfm" -> (eventsRfm _),
    "agg_mom_growth" -> (aggMomGrowth _),
    "events_user_entropy" -> (eventsUserEntropy _),
    "events_markov" -> (eventsMarkov _),
    "events_path_trigrams" -> (eventsPathTrigrams _),
    "events_mad_outliers" -> (eventsMadOutliers _),
    "events_ewma" -> (eventsEwma _),
    "events_holt_forecast" -> (eventsHoltForecast _),
    "events_forecast_backtest" -> (eventsForecastBacktest _),
    "events_sessionize" -> (eventsSessionize _),
    "join_range_binned" -> (joinRangeBinned _),
    "join_interval_events" -> (joinIntervalEvents _),
    "join_salted_skew" -> (joinSaltedSkew _),
    "join_full_outer" -> (joinFullOuter _),
    "agg_min_max_by" -> (aggMinMaxBy _),
    "agg_pivot" -> (aggPivot _),
    "join_asof_event_order" -> (joinAsofEventOrder _),
    "agg_pricing_summary" -> (aggPricingSummary _),
    "agg_distinct" -> (aggDistinct _),
    "agg_rollup" -> (aggRollup _),
    "agg_approx_distinct" -> (aggApproxDistinct _),
    "agg_sketch_union" -> (aggSketchUnion _),
    "agg_multi_distinct" -> (aggMultiDistinct _),
    "agg_share_of_total" -> (aggShareOfTotal _),
    "agg_collect_sorted" -> (aggCollectSorted _),
    "agg_filtered_bool" -> (aggFilteredBool _),
    "agg_percentiles" -> (aggPercentiles _),
    "agg_percentile_approx" -> (aggPercentileApprox _),
    "agg_stats_moments" -> (aggStatsMoments _),
    "window_ntile_dist" -> (windowNtileDist _),
    "window_range_trailing" -> (windowRangeTrailing _),
    "window_rolling_median" -> (windowRollingMedian _),
    "window_hampel_filter" -> (windowHampelFilter _),
    "window_rolling_slope" -> (windowRollingSlope _),
    "window_rank_topn" -> (windowRankTopn _),
    "window_topk_custom" -> (windowTopkCustom _),
    "window_running_sum" -> (windowRunningSum _),
    "window_lag_delta" -> (windowLagDelta _),
    "window_first_last" -> (windowFirstLast _),
    "sort_multikey_limit" -> (sortMultikeyLimit _),
    "agg_histogram" -> (aggHistogram _),
    "sort_null_order" -> (sortNullOrder _),
    "set_union_except" -> (setUnionExcept _),
    "set_intersect_all" -> (setIntersectAll _),
    "sort_offset_page" -> (sortOffsetPage _),
    "reshape_unpivot" -> (reshapeUnpivot _),
    "join_null_safe" -> (joinNullSafe _),
    "join_bucketed_colocated" -> (joinBucketedColocated _),
    "window_lead" -> (windowLead _))

  /** Oracle twin of [[holtDailySeries]]: one CTE chain `daily, s`
    * producing (days, vals) — shared by the forecast and backtest
    * oracles so the series spelling cannot drift between them. */
  private val holtDailySql: String =
    s"""daily AS (
           SELECT strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS y
           FROM ${evSql()} WHERE event_type = 'purchase' GROUP BY d),
         s AS (SELECT list(d ORDER BY d) AS days, list(y ORDER BY d) AS vals
               FROM daily)"""

  /** Oracle twin of [[holtFoldCol]]: DuckDB `list_reduce` over the
    * series prefix excluding the last `holdout` elements, state packed
    * as a 2-list (the accumulator must share the element type). ONE
    * definition for both Holt consumers. */
  private def holtFoldSql(holdout: Int): String = {
    val lNew = r6Sql("0.5 * x[1] + 0.5 * (acc[1] + acc[2])")
    s"""list_reduce(
               [[vals[1], vals[2] - vals[1]]]
                 || list_transform(vals[3:len(vals) - $holdout], x -> [x, 0.0]),
               (acc, x) -> [$lNew,
                 ${r6Sql(s"0.25 * (($lNew) - acc[1]) + 0.75 * acc[2]")}])"""
  }

  // the 3 EM rounds unrolled, each CTE-for-CTE the engine's loop body:
  // per-row responsibilities from v{k-1}'s parameters (r6-rounded), six
  // DECIMAL moment sums, parameters re-derived from identical sums
  private val emIterCtes = (1 to 3).map { k =>
    val p = s"v${k - 1}"
    s"""r$k AS (SELECT x,
           floor((CASE WHEN d1 + d2 > 0 THEN d1 / (d1 + d2) ELSE 0.5 END)
             * 1e6 + 0.5) / 1e6 AS r
           FROM (SELECT x,
             w1 / s1 * exp((x - mu1) * (x - mu1) / (-2.0 * s1 * s1)) AS d1,
             (1.0 - w1) / s2 * exp((x - mu2) * (x - mu2) / (-2.0 * s2 * s2)) AS d2
             FROM xs, $p)),
         a$k AS (SELECT
           CAST(sum(CAST(r AS DECIMAL(20,6))) AS DOUBLE) AS r1d,
           CAST(sum(CAST(floor(r * x * 1e6 + 0.5) / 1e6 AS DECIMAL(20,6)))
             AS DOUBLE) AS rx1d,
           CAST(sum(CAST(floor(r * x * x * 1e6 + 0.5) / 1e6 AS DECIMAL(20,6)))
             AS DOUBLE) AS rxx1d,
           CAST(sum(CAST(1.0 - r AS DECIMAL(20,6))) AS DOUBLE) AS r2d,
           CAST(sum(CAST(floor((1.0 - r) * x * 1e6 + 0.5) / 1e6
             AS DECIMAL(20,6))) AS DOUBLE) AS rx2d,
           CAST(sum(CAST(floor((1.0 - r) * x * x * 1e6 + 0.5) / 1e6
             AS DECIMAL(20,6))) AS DOUBLE) AS rxx2d
           FROM r$k),
         v$k AS (SELECT $p.n,
           r1d / (r1d + r2d) AS w1,
           rx1d / r1d AS mu1, rx2d / r2d AS mu2,
           sqrt(greatest(rxx1d / r1d - (rx1d / r1d) * (rx1d / r1d), 1e-6)) AS s1,
           sqrt(greatest(rxx2d / r2d - (rx2d / r2d) * (rx2d / r2d), 1e-6)) AS s2
           FROM a$k, $p)"""
  }.mkString(",\n         ")

  // inverse Poisson(1) CDF as a CASE ladder over the shared literals
  private val poissonCaseSql =
    PoissonCum.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 7 END")

  // rank-selection median: keep ranks floor((m+1)/2) and floor(m/2)+1
  private def rankMedSql(src: String, c: String, as: String): String =
    s"""(SELECT avg($c) AS $as FROM
       (SELECT $c, row_number() OVER (ORDER BY $c) AS rn,
          count(*) OVER () AS m FROM $src) _r
       WHERE rn = floor((m + 1) / 2.0) OR rn = floor(m / 2.0) + 1)"""

  /** Generated oracle for [[aggMarkovAttribution]]: counts, ratios,
    * and the unrolled absorption recurrences all emitted from the same
    * [[MarkovTransient]] order the Scala driver folds in. */
  private def markovOracleSql: String = {
    val toStates = MarkovTransient.drop(1) ++ Seq("purchase", "null")
    val cntCols = (for (s <- MarkovTransient; to <- toStates) yield
      s"sum(CASE WHEN from_s = '$s' AND to_s = '$to' THEN 1 ELSE 0 END) AS n_${s}_$to")
      .mkString(",\n           ")
    val tCols = (for (s <- MarkovTransient; to <- toStates) yield
      s"CASE WHEN ${toStates.map(t0 => s"n_${s}_$t0").mkString(" + ")} > 0 THEN CAST(n_${s}_$to AS DOUBLE) / CAST(${toStates.map(t0 => s"n_${s}_$t0").mkString(" + ")} AS DOUBLE) ELSE 0.0 END AS t_${s}_$to")
      .mkString(",\n           ")
    // variants: full + one per removable channel
    val variants = ("full", None) +:
      MarkovTransient.drop(1).map(c => (c.take(2), Some(c)))
    // each step CTE carries the t_ matrix forward and computes fresh
    // p{k}_ columns from the previous step's p{k-1}_ — no name collision
    val tForward = (for (s <- MarkovTransient; to <- toStates)
      yield s"t_${s}_$to").mkString(", ")
    def stepSelect(k: Int): String = {
      val cols = variants.flatMap { case (tag, removed) =>
        val states = MarkovTransient.filterNot(removed.contains)
        states.map { s =>
          val terms = states.filter(_ != "start")
            .map(s2 =>
              s" + t_${s}_$s2 * " +
                (if (k == 1) "0.0" else s"p${k - 1}_${tag}_$s2"))
          s"t_${s}_purchase${terms.mkString} AS p${k}_${tag}_$s"
        }
      }.mkString(",\n           ")
      val carry = if (k == 1) tForward
        else tForward + ", " + variants.flatMap { case (tag, removed) =>
          MarkovTransient.filterNot(removed.contains)
            .map(s => s"p${k - 1}_${tag}_$s")
        }.mkString(", ")
      val src = if (k == 1) "tmat" else s"q${k - 1}"
      s"q$k AS (SELECT $carry,\n           $cols\n           FROM $src)"
    }
    val steps = (1 to MarkovSteps).map(stepSelect).mkString(",\n         ")
    val last = s"q$MarkovSteps"
    val rows = MarkovTransient.drop(1).map { c =>
      val tag = c.take(2)
      val pFull = s"p${MarkovSteps}_full_start"
      val pRem = s"p${MarkovSteps}_${tag}_start"
      s"""SELECT '$c' AS channel, np.n_paths,
           ${r6Sql(pFull)} AS p_full, ${r6Sql(pRem)} AS p_removed,
           ${r6Sql(s"CASE WHEN $pFull > 0 THEN 1.0 - $pRem / $pFull ELSE 0.0 END")}
             AS removal_effect
         FROM $last, np"""
    }.mkString("\n         UNION ALL ")
    s"""WITH s1 AS (SELECT user_id, event_type, ts, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS rn
           FROM ${evSql()}),
         s2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' THEN rn END)
             OVER (PARTITION BY user_id) AS conv_rn FROM s1),
         s3 AS (SELECT * FROM s2 WHERE conv_rn IS NULL OR rn <= conv_rn),
         s4 AS (SELECT *,
           coalesce(lag(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id), 'start') AS from_s,
           rn = max(rn) OVER (PARTITION BY user_id) AS is_last
           FROM s3),
         trans AS (SELECT from_s, event_type AS to_s FROM s4
           UNION ALL SELECT event_type AS from_s, 'null' AS to_s FROM s4
           WHERE is_last AND event_type <> 'purchase'),
         cnts AS (SELECT
           $cntCols
           FROM trans),
         np AS (SELECT CAST(${toStates.map(t0 => s"n_start_$t0").mkString(" + ")}
           AS BIGINT) AS n_paths FROM cnts),
         tmat AS (SELECT
           $tCols
           FROM cnts),
         $steps
         SELECT channel, n_paths, p_full, p_removed, removal_effect FROM (
         $rows
         ) ORDER BY channel"""
  }

  /** Generated oracle for [[aggShapleyChannel]]: the same coalition
    * enumeration emits the SQL, so weights, masks, and addition order
    * are textually derived from one source. */
  private def shapleyOracleSql: String = {
    def cond(m: Int): String = ShapChannels.zipWithIndex.map {
      case (c, i) => s"f_$c = ${if ((m & (1 << i)) != 0) 1 else 0}"
    }.mkString(" AND ")
    val flagCols = ShapChannels.map(c =>
      s"max(CASE WHEN event_type = '$c' THEN 1 ELSE 0 END) AS f_$c")
      .mkString(",\n           ")
    val countCols = (0 until 16).flatMap { m =>
      Seq(s"sum(CASE WHEN ${cond(m)} THEN 1 ELSE 0 END) AS n_$m",
        s"sum(CASE WHEN ${cond(m)} AND y = 1 THEN 1 ELSE 0 END) AS k_$m")
    }.mkString(",\n           ")
    val vCols = (0 until 16).map(m =>
      s"CASE WHEN n_$m > 0 THEN CAST(k_$m AS DOUBLE) / CAST(n_$m AS DOUBLE) ELSE 0.0 END AS v_$m")
      .mkString(",\n           ")
    val rows = ShapChannels.zipWithIndex.map { case (c, i) =>
      val phi = shapTerms(i).map { case (w, s, si) =>
        s"$w * (v_$si - v_$s)"
      }.mkString("0.0 + ", " + ", "")
      val nExp = (0 until 16).filter(m => (m & (1 << i)) != 0)
        .map(m => s"n_$m").mkString(" + ")
      s"""SELECT '$c' AS channel, CAST($nExp AS BIGINT) AS n_exposed,
           floor(($phi) * 1000000.0 + 0.5) / 1000000.0 AS shapley_value
         FROM v"""
    }.mkString("\n         UNION ALL ")
    s"""WITH pu AS (SELECT user_id,
           $flagCols,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
           FROM ${evSql()} GROUP BY user_id),
         cnts AS (SELECT
           $countCols
           FROM pu),
         v AS (SELECT *,
           $vCols
           FROM cnts)
         SELECT channel, n_exposed, shapley_value FROM (
         $rows
         ) ORDER BY channel"""
  }

  val oracleSql: Map[String, String] = Map(
    // the digest's rank-bound flag is Spark-verified (the oracle can't
    // see partition order); the oracle pins it TRUE and recomputes the
    // exact quantiles independently — the agg_approx_distinct pattern
    "agg_tdigest_quantiles" ->
      """WITH li AS (SELECT l_returnflag AS grp,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
           FROM lineitem),
         g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
           quantile_cont(cents, 0.25) AS x1,
           quantile_cont(cents, 0.50) AS x2,
           quantile_cont(cents, 0.75) AS x3
           FROM li GROUP BY 1)
         SELECT grp, q, n, exact_cents, true AS within_bound FROM (
           SELECT grp, CAST(0.25 AS DOUBLE) AS q, n, x1 AS exact_cents FROM g
           UNION ALL
           SELECT grp, CAST(0.5 AS DOUBLE) AS q, n, x2 FROM g
           UNION ALL
           SELECT grp, CAST(0.75 AS DOUBLE) AS q, n, x3 FROM g)
         ORDER BY grp, q""",
    "events_bass_diffusion" -> {
      def d2(c: String) = dec2dSql(c, 0)
      s"""WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS d
           FROM ${evSql()} GROUP BY 1),
         daily AS (SELECT d, CAST(count(*) AS BIGINT) AS v
           FROM fd GROUP BY 1),
         base AS (SELECT d, v,
           CAST(coalesce(sum(v) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
             PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS y
           FROM daily),
         b2 AS (SELECT d, v, y, y * y AS y2 FROM base),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
           sum(CAST(y AS HUGEINT)) AS s1,
           sum(CAST(y2 AS HUGEINT)) AS s2,
           sum(CAST(y2 AS HUGEINT) * y) AS s3,
           sum(CAST(y2 AS HUGEINT) * y2) AS s4,
           sum(CAST(v AS HUGEINT)) AS r0,
           sum(CAST(y AS HUGEINT) * v) AS r1,
           sum(CAST(y2 AS HUGEINT) * v) AS r2
           FROM b2),
         dd AS (SELECT n, CAST(n AS DOUBLE) AS nd,
           ${d2("s1")} AS s1, ${d2("s2")} AS s2, ${d2("s3")} AS s3,
           ${d2("s4")} AS s4, ${d2("r0")} AS r0, ${d2("r1")} AS r1,
           ${d2("r2")} AS r2
           FROM s),
         dets AS (SELECT n,
           nd * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
             + s2 * (s1 * s3 - s2 * s2) AS det,
           r0 * (s2 * s4 - s3 * s3) - s1 * (r1 * s4 - s3 * r2)
             + s2 * (r1 * s3 - s2 * r2) AS det0,
           nd * (r1 * s4 - s3 * r2) - r0 * (s1 * s4 - s3 * s2)
             + s2 * (s1 * r2 - r1 * s2) AS det1,
           nd * (s2 * r2 - r1 * s3) - s1 * (s1 * r2 - r1 * s2)
             + r0 * (s1 * s3 - s2 * s2) AS det2
           FROM dd),
         sol0 AS (SELECT n, det,
           CASE WHEN abs(det) > 0 THEN det0 / det END AS ba,
           CASE WHEN abs(det) > 0 THEN det1 / det END AS bb,
           CASE WHEN abs(det) > 0 THEN det2 / det END AS bc FROM dets),
         sol1 AS (SELECT *,
           greatest(bb * bb - 4.0 * ba * bc, 0.0) AS disc FROM sol0),
         sol2 AS (SELECT *, CASE WHEN abs(det) > 0 AND bc <> 0.0
           THEN (-bb - sqrt(disc)) / (2.0 * bc) END AS m_hat FROM sol1),
         sol AS (SELECT *, CASE WHEN m_hat <> 0.0 THEN ba / m_hat END AS p,
           CASE WHEN m_hat IS NOT NULL THEN
             bb + (CASE WHEN m_hat <> 0.0 THEN ba / m_hat END) END AS q
           FROM sol2),
         peak AS (SELECT strftime(b2.d, '%Y-%m-%d') AS peak_day,
           ${r6Sql("""sol.ba + sol.bb * CAST(b2.y AS DOUBLE)
             + sol.bc * CAST(b2.y2 AS DOUBLE)""")} AS peak_fitted
           FROM b2, sol
           ORDER BY peak_fitted DESC, b2.d LIMIT 1)
         SELECT sol.n AS n_days, ${r4Sql("sol.m_hat")} AS m_hat,
           ${r6Sql("sol.p")} AS p_innov, ${r6Sql("sol.q")} AS q_imit,
           peak.peak_day, peak.peak_fitted
         FROM sol, peak"""
    },
    "agg_reservoir_sample" ->
      s"""WITH ev AS (SELECT event_id, event_type, value FROM ${evSql()}),
         h AS (SELECT event_type, event_id, value,
           CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
             AS BIGINT) // 17179869184 AS prio
           FROM ev),
         r AS (SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type
             ORDER BY prio, event_id) AS rn FROM h),
         t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_total FROM ev GROUP BY 1),
         s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_sample,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_sample,
           min(event_id) AS min_sample_id, max(event_id) AS max_sample_id
           FROM r WHERE rn <= 32 GROUP BY 1)
         SELECT t.event_type, t.n_total, s.n_sample,
           s.min_sample_id, s.max_sample_id,
           ${r6Sql("CAST(s.cents_sample AS DOUBLE) / 100.0 / CAST(s.n_sample AS DOUBLE)")}
             AS sample_mean,
           ${r6Sql("CAST(t.cents_total AS DOUBLE) / 100.0 / CAST(t.n_total AS DOUBLE)")}
             AS pop_mean
         FROM t JOIN s USING (event_type) ORDER BY event_type""",
    "agg_conformal_interval" ->
      s"""WITH li AS (SELECT l_returnflag AS grp,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
           CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
             CAST(l_linenumber AS VARCHAR)), 1, 12)) AS BIGINT) % 4 AS split
           FROM lineitem),
         tr AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_train,
           (10 * CAST(sum(cents) AS BIGINT)) // CAST(count(*) AS BIGINT)
             AS mu10
           FROM li WHERE split <= 1 GROUP BY 1),
         cal AS (SELECT li.grp, abs(li.cents * 10 - tr.mu10) AS v
           FROM li JOIN tr ON li.grp = tr.grp WHERE li.split = 2),
         cn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_cal,
           least((9 * (count(*) + 1) + 9) // 10, count(*)) AS k
           FROM cal GROUP BY 1),
         -- independent rank spelling of the Spark side's bucket-cumsum
         -- order-statistic selection: v at row_number k = k-th smallest
         rk AS (SELECT grp, v,
           row_number() OVER (PARTITION BY grp ORDER BY v) AS rn FROM cal),
         q AS (SELECT rk.grp, cn.n_cal, min(rk.v) AS q10
           FROM rk JOIN cn ON rk.grp = cn.grp AND rk.rn >= cn.k
           GROUP BY 1, 2),
         te AS (SELECT li.grp, tr.n_train, tr.mu10, q.n_cal, q.q10,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN abs(li.cents * 10 - tr.mu10) <= q.q10
             THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
           FROM li JOIN tr ON li.grp = tr.grp JOIN q ON li.grp = q.grp
           WHERE li.split = 3 GROUP BY 1, 2, 3, 4, 5)
         SELECT grp AS l_returnflag, n_train, n_cal, n_test,
           ${r6Sql("CAST(mu10 AS DOUBLE) / 1000.0")} AS mu,
           ${r6Sql("CAST(q10 AS DOUBLE) / 1000.0")} AS q_width,
           ${r6Sql("CAST(mu10 - q10 AS DOUBLE) / 1000.0")} AS lo,
           ${r6Sql("CAST(mu10 + q10 AS DOUBLE) / 1000.0")} AS hi,
           ${r6Sql("CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE)")}
             AS coverage
         FROM te ORDER BY l_returnflag""",
    "join_asof_grouped_backfill" ->
      s"""WITH dim AS (SELECT o_custkey AS uid, CAST(o_orderdate AS DATE)
             AS vfrom, arg_max(o_orderpriority, o_orderkey) AS tier
           FROM orders GROUP BY 1, 2),
         d2 AS (SELECT uid, epoch_us(CAST(vfrom AS TIMESTAMP)) AS t_us,
           0 AS is_fact, CAST(NULL AS BIGINT) AS event_id,
           CAST(NULL AS VARCHAR) AS ts_s, tier,
           strftime(vfrom, '%Y-%m-%d') AS vfrom_s FROM dim),
         f AS (SELECT user_id AS uid, epoch_us(ts) AS t_us, 1 AS is_fact,
           event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           CAST(NULL AS VARCHAR) AS tier, CAST(NULL AS VARCHAR) AS vfrom_s
           FROM ${evSql()}),
         u AS (SELECT * FROM d2 UNION ALL SELECT * FROM f),
         w AS (SELECT *,
           last_value(tier IGNORE NULLS) OVER win1 AS asof_tier,
           last_value(vfrom_s IGNORE NULLS) OVER win1 AS asof_from,
           first_value(tier IGNORE NULLS) OVER win2 AS first_tier,
           first_value(vfrom_s IGNORE NULLS) OVER win2 AS first_from
           FROM u WINDOW
             win1 AS (PARTITION BY uid
               ORDER BY t_us, is_fact, event_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             win2 AS (PARTITION BY uid
               ORDER BY t_us, is_fact, event_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         SELECT event_id, uid AS user_id, ts_s,
           coalesce(asof_tier, first_tier, 'NONE') AS tier,
           coalesce(asof_from, first_from) AS tier_from_s,
           CASE WHEN asof_tier IS NOT NULL THEN 'asof'
             WHEN first_tier IS NOT NULL THEN 'backfill'
             ELSE 'none' END AS src
         FROM w WHERE is_fact = 1 ORDER BY event_id""",
    "agg_winsorized_mean" ->
      s"""WITH q AS (SELECT l_returnflag AS grp,
           ${r6Sql("quantile_cont(l_quantity, 0.05)")} AS lo,
           ${r6Sql("quantile_cont(l_quantity, 0.95)")} AS hi
           FROM lineitem GROUP BY 1),
         c AS (SELECT q.grp, q.lo, q.hi, l.l_quantity AS v,
           CASE WHEN l.l_quantity < q.lo THEN q.lo
                WHEN l.l_quantity > q.hi THEN q.hi
                ELSE l.l_quantity END AS cw
           FROM lineitem l JOIN q ON l.l_returnflag = q.grp)
         SELECT grp AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
           CAST(sum(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           ${r4Sql("max(lo)")} AS p05, ${r4Sql("max(hi)")} AS p95,
           ${r6Sql("CAST(CAST(sum(CAST(floor(cw * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 / CAST(count(*) AS DOUBLE)")}
             AS win_mean_qty
         FROM c GROUP BY grp ORDER BY l_returnflag""",
    "agg_jackknife_variance" -> {
      // n_blocks > 1 CASE guards mirror the Spark side's degenerate-
      // corpus when() (single-day corpus → NULL, not NaN/error).
      val jkVar = """CAST(n_blocks - 1 AS DOUBLE) / CAST(n_blocks AS DOUBLE)
        * (CAST(sum_t AS DOUBLE) / 1e12)"""
      val thetaHat = "CAST(s_tot AS DOUBLE) / 100.0 / CAST(n_rows AS DOUBLE)"
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
           CAST(count(*) AS BIGINT) AS n_d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS s_d
           FROM ${evSql()} GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(n_d) AS BIGINT) AS n_tot,
           CAST(sum(s_d) AS BIGINT) AS s_tot FROM daily),
         th AS (SELECT t.n_days, t.n_tot, t.s_tot,
             CASE WHEN t.n_tot - dd.n_d > 0 THEN
               CAST(floor(CAST(t.s_tot - dd.s_d AS DOUBLE) / 100.0 /
                 CAST(t.n_tot - dd.n_d AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
             ELSE NULL END AS k_i
           FROM daily dd, tot t),
         kb AS (SELECT CAST(sum(k_i) AS BIGINT) AS sum_k FROM th),
         tm AS (SELECT th.n_days, th.n_tot, th.s_tot,
             CAST(floor((CAST(th.k_i AS DOUBLE) / 1e6 -
               CAST(kb.sum_k AS DOUBLE) / 1e6 / CAST(th.n_days AS DOUBLE))
               * (CAST(th.k_i AS DOUBLE) / 1e6 -
               CAST(kb.sum_k AS DOUBLE) / 1e6 / CAST(th.n_days AS DOUBLE))
               * 1e12 + 0.5) AS BIGINT) AS t_i
           FROM th, kb),
         f AS (SELECT max(n_days) AS n_blocks, max(n_tot) AS n_rows,
           max(s_tot) AS s_tot, CAST(sum(t_i) AS BIGINT) AS sum_t FROM tm)
         SELECT n_blocks, n_rows,
           ${r6Sql(thetaHat)} AS theta_hat,
           CASE WHEN n_blocks > 1 THEN ${r6Sql(s"sqrt($jkVar)")}
             ELSE NULL END AS jk_se,
           CASE WHEN n_blocks > 1 THEN
             ${r6Sql(s"$thetaHat - 1.96 * sqrt($jkVar)")}
             ELSE NULL END AS ci_lo,
           CASE WHEN n_blocks > 1 THEN
             ${r6Sql(s"$thetaHat + 1.96 * sqrt($jkVar)")}
             ELSE NULL END AS ci_hi
         FROM f"""
    },
    "agg_kmv_distinct" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, kk AS k_seen, true_n,
           ${r4Sql(s"""CASE WHEN kk < 64 THEN CAST(kk AS DOUBLE)
             ELSE CAST(kk - 1 AS DOUBLE) * 281474976710656.0
               / CAST(hk AS DOUBLE) END""")} AS est_n
         FROM
           (SELECT max(h) AS hk, count(*) AS kk FROM
             (SELECT DISTINCT
                CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
              FROM lineitem WHERE $c IS NOT NULL
              ORDER BY h LIMIT 64) mh) kq,
           (SELECT count(DISTINCT $c) AS true_n FROM lineitem) tq"""
      s"""SELECT col_name, k_seen, true_n, est_n,
         ${r6Sql("abs(est_n - CAST(true_n AS DOUBLE)) / CAST(true_n AS DOUBLE)")}
           AS rel_err
       FROM (${one("l_orderkey")} UNION ALL ${one("l_partkey")}
         UNION ALL ${one("l_suppkey")})
       ORDER BY col_name"""
    },
    "events_kalman_filter" -> {
      val pp = r6Sql("acc[2] + 0.1")
      val kg = r6Sql(s"($pp) / (($pp) + 1.0)")
      val xn = r6Sql(s"acc[1] + ($kg) * (v[1] - acc[1])")
      val pn = r6Sql(s"(1.0 - ($kg)) * ($pp)")
      s"""WITH daily AS (
           SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             ${r6Sql("""CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE)""")} AS y
           FROM ${evSql()} GROUP BY event_type, d),
         s AS (SELECT event_type, list(y ORDER BY d) AS vals
               FROM daily GROUP BY event_type),
         f AS (SELECT event_type, CAST(len(vals) AS BIGINT) AS n_days,
             vals[-1] AS z_last,
             list_reduce(
               [[vals[1], 1.0, 0.0]]
                 || list_transform(vals[2:len(vals)], x -> [x, 0.0, 0.0]),
               (acc, v) -> [$xn, $pn, $kg]) AS st
           FROM s WHERE len(vals) >= 2)
         SELECT event_type, n_days,
           ${r6Sql("st[1]")} AS level, ${r6Sql("st[2]")} AS p_post,
           ${r6Sql("st[3]")} AS gain, ${r6Sql("z_last - st[1]")} AS resid_last
         FROM f ORDER BY event_type"""
    },
    "events_hawkes_intensity" ->
      s"""WITH grid AS (
           SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS c
           FROM ${evSql()} GROUP BY user_id, d),
         g2 AS (SELECT user_id,
             date_diff('day', DATE '1970-01-01', d) AS di, c
           FROM grid),
         x AS (SELECT user_id, di + k AS ti,
             c * ([1000000, 606531, 367879, 223130, 135335, 82085, 49787,
                   30197, 18316, 11109, 6738, 4087, 2479, 1503, 912])[k + 1]
               AS part
           FROM g2, range(0, 15) t(k)),
         s AS (SELECT user_id, ti, CAST(sum(part) AS BIGINT) AS inten
           FROM x GROUP BY user_id, ti),
         a AS (SELECT s.user_id, s.ti, s.inten
           FROM s JOIN g2 ON s.user_id = g2.user_id AND s.ti = g2.di),
         r AS (SELECT user_id, ti, inten,
             row_number() OVER (PARTITION BY user_id
               ORDER BY inten DESC, ti) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_days,
             CAST(sum(inten) OVER (PARTITION BY user_id) AS BIGINT) AS tot
           FROM a)
         SELECT user_id, n_days, ti AS peak_di, inten AS peak_intensity,
           ${r6Sql("CAST(tot AS DOUBLE) / CAST(n_days AS DOUBLE) / 1e6")}
             AS mean_intensity
         FROM r WHERE rn = 1 ORDER BY user_id""",
    "agg_overdispersion_nb" ->
      s"""WITH pu AS (SELECT user_id, count(*) AS k
           FROM ${evSql()} GROUP BY user_id),
         m AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(k) AS DOUBLE) AS sk,
           CAST(sum(k * k) AS DOUBLE) AS skk
           FROM pu),
         c AS (SELECT n, sk / nd AS mean,
           skk / nd - (sk / nd) * (sk / nd) AS vr
           FROM m)
         SELECT n AS n_users,
           ${r4Sql("mean")} AS mean_events, ${r4Sql("vr")} AS var_events,
           ${r4Sql("vr / mean")} AS dispersion_index,
           vr / mean > 1.2 AS overdispersed,
           ${r4Sql("CASE WHEN vr > mean THEN mean * mean / (vr - mean) END")}
             AS nb_r,
           ${r6Sql("CASE WHEN vr > mean THEN mean / vr END")} AS nb_p
         FROM c""",
    "agg_cuped_adjustment" ->
      s"""WITH sp AS (SELECT CAST(min(CAST(ts AS DATE)) AS DATE)
             + CAST(CAST(date_diff('day', min(CAST(ts AS DATE)),
               max(CAST(ts AS DATE))) AS BIGINT) // 2 AS INTEGER) AS mid
           FROM ${evSql()}),
         pu AS (SELECT user_id,
           sum(CASE WHEN event_type = 'purchase' AND CAST(ts AS DATE) <= mid
             THEN CAST(value AS DECIMAL(10,2))
             ELSE CAST(0 AS DECIMAL(10,2)) END) AS x,
           sum(CASE WHEN event_type = 'purchase' AND CAST(ts AS DATE) > mid
             THEN CAST(value AS DECIMAL(10,2))
             ELSE CAST(0 AS DECIMAL(10,2)) END) AS y,
           CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t_arm
           FROM ${evSql()}, sp GROUP BY user_id),
         m AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(y * y AS DECIMAL(38,8))) AS DOUBLE) AS syy,
           CAST(sum(CAST(t_arm AS BIGINT)) AS BIGINT) AS n_t,
           CAST(sum(CASE WHEN t_arm = 1 THEN CAST(x AS DECIMAL(38,8))
             ELSE CAST(0 AS DECIMAL(38,8)) END) AS DOUBLE) AS sx_t,
           CAST(sum(CASE WHEN t_arm = 1 THEN CAST(y AS DECIMAL(38,8))
             ELSE CAST(0 AS DECIMAL(38,8)) END) AS DOUBLE) AS sy_t
           FROM pu),
         c AS (SELECT n, n_t, nd, CAST(n_t AS DOUBLE) AS ntd,
           nd - CAST(n_t AS DOUBLE) AS ncd,
           sx / nd AS mx, sy / nd AS my,
           sxx / nd - (sx / nd) * (sx / nd) AS var_x,
           syy / nd - (sy / nd) * (sy / nd) AS var_y,
           sxy / nd - (sx / nd) * (sy / nd) AS cov_xy,
           sx, sy, sx_t, sy_t FROM m),
         f AS (SELECT n, n_t,
           n_t > 0 AND n_t < n AS ok_arms,
           n_t > 0 AND n_t < n AND var_x > 0 AND var_y > 0 AS ok,
           cov_xy / var_x AS theta,
           cov_xy * cov_xy / (var_x * var_y) AS rho2,
           sy_t / ntd - (sy - sy_t) / ncd AS diff_raw,
           sx_t / ntd - (sx - sx_t) / ncd AS dx
           FROM c)
         SELECT n AS n_users, n_t AS n_treatment,
           ${r6Sql("CASE WHEN ok THEN theta END")} AS theta,
           ${r6Sql("CASE WHEN ok THEN rho2 END")} AS var_reduction,
           ${r4Sql("CASE WHEN ok_arms THEN diff_raw END")} AS diff_raw,
           ${r4Sql("CASE WHEN ok THEN diff_raw - theta * dx END")}
             AS diff_cuped
         FROM f""",
    "agg_markov_attribution" -> markovOracleSql,
    "agg_shapley_channel" -> shapleyOracleSql,
    // the single-window textbook skyline — the equivalence proof for the
    // engine's two-level distributed prefix max
    "sort_pareto_skyline" ->
      s"""WITH per AS (SELECT o_custkey,
           sum(CAST(o_totalprice AS DECIMAL(14,2))) AS spendd,
           count(*) AS n_orders
           FROM orders GROUP BY 1),
         w AS (SELECT o_custkey, spendd, n_orders,
           max(n_orders) OVER (ORDER BY spendd DESC, n_orders DESC, o_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mprev
           FROM per)
         SELECT o_custkey AS custkey, CAST(spendd AS DOUBLE) AS total_spend,
           n_orders
         FROM w WHERE mprev IS NULL OR n_orders > mprev
         ORDER BY total_spend DESC, custkey""",
    "agg_logistic_irls" -> {
      val clamp = "least(greatest(p, 0.000001), 0.999999)"
      s"""WITH pu AS (SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             AS DOUBLE) AS x1,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             AS DOUBLE) AS x2,
           CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
                 THEN 1 ELSE 0 END) >
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y
           FROM ${evSql()} GROUP BY user_id),
         m AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(CAST(y AS DECIMAL(24,6))) AS DOUBLE) AS npos,
           CAST(sum(CAST(x1 AS DECIMAL(24,6))) AS DOUBLE) AS sx1,
           CAST(sum(CAST(x2 AS DECIMAL(24,6))) AS DOUBLE) AS sx2,
           CAST(sum(CAST(x1 * x1 AS DECIMAL(24,6))) AS DOUBLE) AS sx11,
           CAST(sum(CAST(x1 * x2 AS DECIMAL(24,6))) AS DOUBLE) AS sx12,
           CAST(sum(CAST(x2 * x2 AS DECIMAL(24,6))) AS DOUBLE) AS sx22,
           CAST(sum(CAST(y - 0.5 AS DECIMAL(24,6))) AS DOUBLE) AS g0,
           CAST(sum(CAST(x1 * (y - 0.5) AS DECIMAL(24,6))) AS DOUBLE) AS g1,
           CAST(sum(CAST(x2 * (y - 0.5) AS DECIMAL(24,6))) AS DOUBLE) AS g2
           FROM pu),
         c1 AS (SELECT n, nd, npos,
           ${cramer3Sql("nd", "sx1", "sx2", "sx11", "sx12", "sx22",
             "g0", "g1", "g2")}
           FROM m),
         beta1 AS (SELECT n, nd, npos, abs(det) > 0 AS ok1,
           ${r6Sql("4.0 * (det0 / det)")} AS bb0,
           ${r6Sql("4.0 * (det1 / det)")} AS bb1,
           ${r6Sql("4.0 * (det2 / det)")} AS bb2
           FROM c1),
         r2 AS (SELECT pu.y, pu.x1, pu.x2,
           ${r6Sql("1.0 / (1.0 + exp(-(bb0 + bb1 * x1 + bb2 * x2)))")} AS p
           FROM pu, beta1),
         h AS (SELECT
           CAST(sum(CAST(${r6Sql("p * (1.0 - p)")}
             AS DECIMAL(24,6))) AS DOUBLE) AS sw,
           CAST(sum(CAST(${r6Sql("p * (1.0 - p) * x1")}
             AS DECIMAL(24,6))) AS DOUBLE) AS sw1,
           CAST(sum(CAST(${r6Sql("p * (1.0 - p) * x2")}
             AS DECIMAL(24,6))) AS DOUBLE) AS sw2,
           CAST(sum(CAST(${r6Sql("p * (1.0 - p) * x1 * x1")}
             AS DECIMAL(24,6))) AS DOUBLE) AS sw11,
           CAST(sum(CAST(${r6Sql("p * (1.0 - p) * x1 * x2")}
             AS DECIMAL(24,6))) AS DOUBLE) AS sw12,
           CAST(sum(CAST(${r6Sql("p * (1.0 - p) * x2 * x2")}
             AS DECIMAL(24,6))) AS DOUBLE) AS sw22,
           CAST(sum(CAST(${r6Sql("y - p")}
             AS DECIMAL(24,6))) AS DOUBLE) AS q0,
           CAST(sum(CAST(${r6Sql("(y - p) * x1")}
             AS DECIMAL(24,6))) AS DOUBLE) AS q1,
           CAST(sum(CAST(${r6Sql("(y - p) * x2")}
             AS DECIMAL(24,6))) AS DOUBLE) AS q2
           FROM r2),
         c2 AS (SELECT
           ${cramer3Sql("sw", "sw1", "sw2", "sw11", "sw12", "sw22",
             "q0", "q1", "q2")}
           FROM h),
         beta2 AS (SELECT beta1.n, beta1.nd, beta1.npos, beta1.ok1,
           abs(c2.det) > 0 AS ok2,
           ${r6Sql("bb0 + (det0 / det)")} AS f0,
           ${r6Sql("bb1 + (det1 / det)")} AS f1,
           ${r6Sql("bb2 + (det2 / det)")} AS f2
           FROM beta1, c2),
         l2 AS (SELECT pu.y,
           ${r6Sql("1.0 / (1.0 + exp(-(f0 + f1 * x1 + f2 * x2)))")} AS p
           FROM pu, beta2),
         loss AS (SELECT CAST(sum(CAST(
             ${r6Sql(s"-(y * ln($clamp) + (1.0 - y) * ln(1.0 - $clamp))")}
             AS DECIMAL(24,6))) AS DOUBLE) AS sl
           FROM l2)
         SELECT n AS n_users, CAST(npos AS BIGINT) AS n_pos,
           CASE WHEN ok1 AND ok2 THEN ${r4Sql("f0")} END AS b_intercept,
           CASE WHEN ok1 AND ok2 THEN ${r4Sql("f1")} END AS b_views,
           CASE WHEN ok1 AND ok2 THEN ${r4Sql("f2")} END AS b_errors,
           CASE WHEN ok1 AND ok2 THEN
             floor((sl / nd) * 10000.0 + 0.5) / 10000.0 END AS log_loss
         FROM beta2, loss"""
    },
    "events_cumulative_users" ->
      s"""WITH first AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_d
           FROM ${evSql()} GROUP BY 1),
         byday AS (SELECT first_d AS d, count(*) AS nu
           FROM first GROUP BY 1),
         days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM ${evSql()}),
         dense AS (SELECT days.d,
           CAST(coalesce(nu, 0) AS BIGINT) AS new_users
           FROM days LEFT JOIN byday ON days.d = byday.d)
         SELECT strftime(d, '%Y-%m-%d') AS day_s, new_users,
           CAST(sum(new_users) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_users
         FROM dense ORDER BY day_s""",
    "events_srm_check" ->
      s"""WITH byday AS (SELECT CAST(ts AS DATE) AS d,
           count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_t,
           count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_c
           FROM ${evSql()} GROUP BY 1),
         c AS (SELECT d, n_t, n_c,
           (CAST(n_t AS DOUBLE) - CAST(n_c AS DOUBLE))
             * (CAST(n_t AS DOUBLE) - CAST(n_c AS DOUBLE))
             / (CAST(n_t AS DOUBLE) + CAST(n_c AS DOUBLE)) AS chi2
           FROM byday),
         a AS (SELECT d, n_t, n_c, chi2, sqrt(chi2) AS az,
           1.0 / (1.0 + 0.2316419 * sqrt(chi2)) AS t FROM c),
         p AS (SELECT d, n_t, n_c, chi2,
           2.0 * (${normTailSql("az", "t")}) AS praw FROM a)
         SELECT strftime(d, '%Y-%m-%d') AS day_s, n_t, n_c,
           ${r4Sql("chi2")} AS chi2, ${r6Sql("praw")} AS p_value,
           praw < 0.001 AS srm_flag
         FROM p ORDER BY day_s""",
    "agg_capture_recapture" ->
      s"""WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0,
           max(CAST(ts AS DATE)) AS d1 FROM ${evSql()}),
         md AS (SELECT d0 + CAST(date_diff('day', d0, d1) // 2 AS INTEGER)
             AS mid FROM span),
         f AS (SELECT user_id,
           max(CASE WHEN CAST(ts AS DATE) <= mid THEN 1 ELSE 0 END) AS in1,
           max(CASE WHEN CAST(ts AS DATE) > mid THEN 1 ELSE 0 END) AS in2
           FROM ${evSql()}, md GROUP BY 1),
         c AS (SELECT CAST(sum(in1) AS BIGINT) AS n1,
           CAST(sum(in2) AS BIGINT) AS n2,
           CAST(sum(in1 * in2) AS BIGINT) AS m FROM f)
         SELECT n1, n2, m,
           ${r4Sql("(CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0) / (CAST(m AS DOUBLE) + 1.0) - 1.0")}
             AS est_population,
           ${r6Sql("CAST(m AS DOUBLE) / CAST(n2 AS DOUBLE)")}
             AS recapture_rate
         FROM c""",
    "events_theil_sen" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS y
           FROM ${evSql()} WHERE event_type = 'purchase' GROUP BY 1),
         dx AS (SELECT date_diff('day', DATE '1970-01-01', d) AS x, y
           FROM daily),
         sl AS (SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
           FROM dx a, dx b WHERE a.x < b.x),
         sm AS ${rankMedSql("sl", "slope", "med")},
         res AS (SELECT y - med * x AS r FROM dx, sm),
         rm AS ${rankMedSql("res", "r", "imed")},
         nd AS (SELECT count(*) AS n_days FROM dx),
         np AS (SELECT count(*) AS n_pairs FROM sl)
         SELECT n_days, n_pairs, ${r6Sql("med")} AS slope_per_day,
           ${r4Sql("imed")} AS intercept
         FROM nd, np, sm, rm""",
    "agg_bh_fdr" ->
      s"""WITH bh AS (SELECT hour(ts) AS hr,
           count(*) FILTER (WHERE event_type = 'purchase') AS k,
           count(*) AS n
           FROM ${evSql()} WHERE event_type IN ('purchase', 'click')
           GROUP BY 1),
         tot AS (SELECT CAST(sum(k) AS BIGINT) AS kt,
           CAST(sum(n) AS BIGINT) AS nt FROM bh),
         s1 AS (SELECT hr, k, n,
           CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p1v,
           CAST(kt - k AS DOUBLE) / CAST(nt - n AS DOUBLE) AS p2v,
           (CAST(k AS DOUBLE) + CAST(kt - k AS DOUBLE))
             / (CAST(n AS DOUBLE) + CAST(nt - n AS DOUBLE)) AS ppv,
           CAST(n AS DOUBLE) AS n1d, CAST(nt - n AS DOUBLE) AS n2d
           FROM bh, tot),
         s2 AS (SELECT hr, k, n, p1v,
           (p1v - p2v) / sqrt(ppv * (1.0 - ppv)
             * (1.0 / n1d + 1.0 / n2d)) AS z
           FROM s1),
         s3 AS (SELECT hr, k, n, p1v, z, abs(z) AS az,
           1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM s2),
         s4 AS (SELECT hr, k, n, p1v, z,
           2.0 * (${normTailSql("az", "t")}) AS praw
           FROM s3),
         rk AS (SELECT *, CAST(row_number() OVER (ORDER BY praw, hr)
             AS BIGINT) AS rnk, count(*) OVER () AS m FROM s4),
         ck AS (SELECT *, CAST(rnk AS DOUBLE) * 0.05 / CAST(m AS DOUBLE)
             AS crit FROM rk),
         km AS (SELECT *, max(CASE WHEN praw <= crit THEN rnk END)
             OVER () AS kmax FROM ck)
         SELECT hr, k, n, ${r6Sql("p1v")} AS rate, ${r4Sql("z")} AS z_stat,
           ${r6Sql("praw")} AS p_value, rnk, ${r6Sql("crit")} AS bh_crit,
           coalesce(rnk <= kmax, false) AS is_discovery
         FROM km ORDER BY rnk""",
    "agg_bootstrap_ci" ->
      s"""WITH o AS (SELECT o_orderkey,
           CAST(o_totalprice AS DECIMAL(14,2)) AS x,
           CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS xc
           FROM orders),
         blocks AS (SELECT unnest(range(50)) AS g),
         js AS (SELECT unnest(range(4)) AS j),
         hx AS (SELECT xc, g, md5('boot|' ||
             CAST(o_orderkey AS VARCHAR) || '|' || CAST(g AS VARCHAR)) AS h
           FROM o, blocks),
         u AS (SELECT xc, g * 4 + j AS b,
           CAST(CAST(('0x' || substr(h, 1 + 8 * CAST(j AS INTEGER), 8))
             AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
           FROM hx, js),
         w AS (SELECT b, xc, $poissonCaseSql AS w FROM u),
         m AS (SELECT b,
           (CAST(CAST(sum(w * xc) AS BIGINT) AS DOUBLE)
             / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE)) / 100.0 AS mean_b
           FROM w GROUP BY b),
         rk AS (SELECT b, mean_b,
           row_number() OVER (ORDER BY mean_b, b) AS rn FROM m),
         pt AS (SELECT count(*) AS n,
           CAST(CAST(sum(x) AS DECIMAL(38,2)) AS DOUBLE) AS sx FROM o)
         SELECT pt.n,
           ${r4Sql("sx / CAST(n AS DOUBLE)")} AS point_mean,
           ${r4Sql("lo.mean_b")} AS ci_lo, ${r4Sql("hi.mean_b")} AS ci_hi,
           ${r4Sql("hi.mean_b - lo.mean_b")} AS ci_width,
           CAST(200 AS BIGINT) AS n_boot
         FROM pt,
           (SELECT mean_b FROM rk WHERE rn = 5) lo,
           (SELECT mean_b FROM rk WHERE rn = 195) hi""",
    "agg_ols_multi" ->
      s"""WITH li AS (SELECT CAST(l_quantity AS DECIMAL(10,2)) AS q,
           CAST(l_discount AS DECIMAL(10,2)) AS d,
           CAST(l_extendedprice AS DECIMAL(14,2)) AS y FROM lineitem),
         s AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(CAST(q AS DECIMAL(38,8))) AS DOUBLE) AS sq,
           CAST(sum(CAST(d AS DECIMAL(38,8))) AS DOUBLE) AS sd,
           CAST(sum(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sy,
           CAST(sum(CAST(q * q AS DECIMAL(38,8))) AS DOUBLE) AS sqq,
           CAST(sum(CAST(d * d AS DECIMAL(38,8))) AS DOUBLE) AS sdd,
           CAST(sum(CAST(q * d AS DECIMAL(38,8))) AS DOUBLE) AS sqd,
           CAST(sum(CAST(q * y AS DECIMAL(38,8))) AS DOUBLE) AS sqy,
           CAST(sum(CAST(d * y AS DECIMAL(38,8))) AS DOUBLE) AS sdy,
           CAST(sum(CAST(y * y AS DECIMAL(38,8))) AS DOUBLE) AS syy
           FROM li),
         dets AS (SELECT *,
           nd * (sqq * sdd - sqd * sqd) -
             sq * (sq * sdd - sqd * sd) +
             sd * (sq * sqd - sqq * sd) AS det,
           sy * (sqq * sdd - sqd * sqd) -
             sq * (sqy * sdd - sqd * sdy) +
             sd * (sqy * sqd - sqq * sdy) AS det0,
           nd * (sqy * sdd - sqd * sdy) -
             sy * (sq * sdd - sqd * sd) +
             sd * (sq * sdy - sqy * sd) AS det1,
           nd * (sqq * sdy - sqy * sqd) -
             sq * (sq * sdy - sqy * sd) +
             sy * (sq * sqd - sqq * sd) AS det2
           FROM s),
         sol AS (SELECT n, nd, sy, sqy, sdy, syy, det,
           det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
           FROM dets),
         fit AS (SELECT *,
           greatest(syy - b0 * sy - b1 * sqy - b2 * sdy, 0.0) AS sse,
           syy - sy * sy / nd AS sst
           FROM sol)
         SELECT n,
           ${r4Sql("CASE WHEN abs(det) > 0.0 THEN b0 END")} AS b_intercept,
           ${r4Sql("CASE WHEN abs(det) > 0.0 THEN b1 END")} AS b_quantity,
           ${r4Sql("CASE WHEN abs(det) > 0.0 THEN b2 END")} AS b_discount,
           ${r6Sql("CASE WHEN abs(det) > 0.0 THEN 1.0 - sse / sst END")}
             AS r2,
           ${r4Sql("CASE WHEN abs(det) > 0.0 THEN sqrt(sse / nd) END")}
             AS rmse
         FROM fit""",
    "agg_spearman" ->
      s"""WITH li AS (SELECT CAST(l_quantity AS DECIMAL(10,2)) AS x,
           CAST(l_discount AS DECIMAL(10,2)) AS y FROM lineitem),
         hx AS (SELECT x, count(*) AS c FROM li GROUP BY x),
         rx AS (SELECT x, CAST(2 * sum(c) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - c + 1 AS BIGINT) AS r2x FROM hx),
         hy AS (SELECT y, count(*) AS c FROM li GROUP BY y),
         ry AS (SELECT y, CAST(2 * sum(c) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - c + 1 AS BIGINT) AS r2y FROM hy),
         j AS (SELECT r2x, r2y FROM li
           JOIN rx USING (x) JOIN ry USING (y)),
         s AS (SELECT count(*) AS n,
           ${dec2dSql("sum(CAST(r2x AS DECIMAL(18,0)))", 0)} AS su,
           ${dec2dSql("sum(CAST(r2y AS DECIMAL(18,0)))", 0)} AS sv,
           ${dec2dSql("sum(CAST(r2x AS DECIMAL(18,0)) * CAST(r2y AS DECIMAL(18,0)))", 0)} AS suv,
           ${dec2dSql("sum(CAST(r2x AS DECIMAL(18,0)) * CAST(r2x AS DECIMAL(18,0)))", 0)} AS suu,
           ${dec2dSql("sum(CAST(r2y AS DECIMAL(18,0)) * CAST(r2y AS DECIMAL(18,0)))", 0)} AS svv
           FROM j),
         f AS (SELECT n, CAST(n AS DOUBLE) * suv - su * sv AS cov,
           CAST(n AS DOUBLE) * suu - su * su AS vu,
           CAST(n AS DOUBLE) * svv - sv * sv AS vv FROM s)
         SELECT n,
           ${r6Sql("CASE WHEN vu > 0 AND vv > 0 THEN cov / (sqrt(vu) * sqrt(vv)) END")}
             AS rho_spearman
         FROM f""",
    "agg_quantile_histogram" ->
      s"""WITH hist AS (SELECT
           CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
             AS cents, count(*) AS c
           FROM lineitem GROUP BY 1),
         cum AS (SELECT cents,
           CAST(sum(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(sum(c) OVER () AS BIGINT) AS n
           FROM hist),
         qf AS (SELECT * FROM (VALUES ('p25', 1, 4), ('p50', 1, 2),
           ('p75', 3, 4), ('p90', 9, 10), ('p99', 99, 100)) t(q, num, den)),
         s AS (SELECT q, n, (n * num + den - 1) // den AS target,
             min(cents) AS vc
           FROM cum CROSS JOIN qf
           WHERE cum >= (n * num + den - 1) // den
           GROUP BY 1, 2, 3)
         SELECT q, n, CAST(target AS BIGINT) AS target_rank,
           CAST(vc AS DOUBLE) / 100.0 AS value
         FROM s ORDER BY q""",
    "agg_interval_union" ->
      s"""WITH ev AS (SELECT event_type AS t, epoch_us(ts) AS s,
           epoch_us(ts) + 300000000 AS e,
           ((epoch_us(ts) // 86400000000) + 1) * 86400000000 AS mid
           FROM ${evSql()}),
         segs AS (
           SELECT t, s AS ss, least(e, mid) AS ee FROM ev
           WHERE least(e, mid) > s
           UNION ALL
           SELECT t, mid AS ss, e AS ee FROM ev WHERE e > mid),
         segd AS (SELECT t, ss, ee, ss // 86400000000 AS day FROM segs),
         busy AS (SELECT t, day, count(*) AS n_intervals,
           CAST(sum(ee - ss) AS BIGINT) AS busy_us
           FROM segd GROUP BY 1, 2),
         bounds AS (
           SELECT t, day, ss AS bt, 1 AS delta FROM segd
           UNION ALL
           SELECT t, day, ee AS bt, -1 AS delta FROM segd),
         sw AS (SELECT t, day, bt,
           CAST(sum(delta) OVER (PARTITION BY t, day
             ORDER BY bt, delta DESC ROWS BETWEEN UNBOUNDED PRECEDING AND
             CURRENT ROW) AS BIGINT) AS c,
           lead(bt, 1) OVER (PARTITION BY t, day ORDER BY bt, delta DESC)
             AS nxt
           FROM bounds),
         cov AS (SELECT t, day,
           CAST(sum(CASE WHEN c > 0 AND nxt IS NOT NULL THEN nxt - bt
             ELSE 0 END) AS BIGINT) AS covered_us
           FROM sw GROUP BY 1, 2)
         SELECT b.t AS event_type,
           strftime(make_timestamp(b.day * 86400000000), '%Y-%m-%d') AS d,
           b.n_intervals, b.busy_us, c.covered_us,
           ${r4Sql("CAST(b.busy_us AS DOUBLE) / CAST(c.covered_us AS DOUBLE)")}
             AS avg_concurrency,
           ${r6Sql("CAST(c.covered_us AS DOUBLE) / 86400000000.0")}
             AS day_share
         FROM busy b JOIN cov c ON c.t = b.t AND c.day = b.day
         ORDER BY event_type, d""",
    "agg_anova_f" ->
      s"""WITH o AS (SELECT o_orderpriority AS grp,
           CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS xc
           FROM orders),
         g AS (SELECT grp, count(*) AS ng,
           CAST(sum(xc) AS BIGINT) AS sxc,
           sum(CAST(xc AS DECIMAL(18,0)) * CAST(xc AS DECIMAL(18,0))) AS sxx
           FROM o GROUP BY 1),
         t AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
           CAST(CAST(sum(sxc) AS BIGINT) AS DOUBLE) / 100.0 AS sxd,
           ${dec2dSql("sum(sxx)", 4)} AS sstraw,
           ${dec2dSql("sum(CAST(floor((CAST(sxc AS DOUBLE) / 100.0) * (CAST(sxc AS DOUBLE) / 100.0) / CAST(ng AS DOUBLE) + 0.5) AS DECIMAL(38,0)))", 0)} AS sbd
           FROM g),
         f AS (SELECT k, n,
           sbd - sxd * sxd / CAST(n AS DOUBLE) AS ssb,
           sstraw - sxd * sxd / CAST(n AS DOUBLE) AS sst,
           CAST(k - 1 AS DOUBLE) AS df1, CAST(n - k AS DOUBLE) AS df2
           FROM t)
         SELECT k, n, ${r4Sql("ssb / 1000000.0")} AS ssb_millions,
           ${r4Sql("(sst - ssb) / 1000000.0")} AS ssw_millions,
           ${r4Sql("CASE WHEN df1 > 0 AND df2 > 0 AND sst - ssb > 0 THEN (ssb / df1) / ((sst - ssb) / df2) END")}
             AS f_stat,
           ${r6Sql("CASE WHEN sst > 0 THEN ssb / sst END")} AS eta_sq
         FROM f""",
    "agg_kendall_tau" ->
      s"""WITH s AS (SELECT uk, x, y FROM (SELECT
             l_orderkey AS uk,
             sum(CAST(l_quantity AS DECIMAL(10,2))) AS x,
             sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS y
           FROM lineitem GROUP BY 1) _s
           ORDER BY md5(CAST(uk AS VARCHAR)), uk LIMIT 1000),
         p AS (SELECT
           CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1 ELSE 0 END AS dx,
           CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1 ELSE 0 END AS dy
           FROM s a JOIN s b ON a.uk < b.uk),
         c AS (SELECT count(*) AS n_pairs,
           CAST(sum(CASE WHEN dx * dy = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
           CAST(sum(CASE WHEN dx * dy = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
           CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_x,
           CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_y
           FROM p),
         f AS (SELECT *, sqrt(CAST(n_pairs - tie_x AS DOUBLE)
             * CAST(n_pairs - tie_y AS DOUBLE)) AS den FROM c)
         SELECT n_pairs, nc, nd, tie_x, tie_y,
           ${r6Sql("CASE WHEN den > 0 THEN CAST(nc - nd AS DOUBLE) / den END")}
             AS tau_b
         FROM f""",
    "window_bollinger" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
           sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
           FROM orders GROUP BY 1),
         cents AS (SELECT d, rev, CAST(rev * 100 AS BIGINT) AS rc FROM daily),
         b AS (SELECT d, rev,
           count(*) OVER w AS nw,
           CAST(CAST(sum(rc) OVER w AS BIGINT) AS DOUBLE) AS s1,
           -- (19,0) factors force int128: DuckDB multiplies (18,0)
           -- representations in int64 and overflows at sf0.1 cents
           sum(CAST(rc AS DECIMAL(19,0)) * CAST(rc AS DECIMAL(19,0)))
             OVER w AS s2
           FROM cents
           WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
         m AS (SELECT d, rev, nw,
           s1 / CAST(nw AS DOUBLE) / 100.0 AS mean,
           sqrt(greatest((${dec2dSql("s2", 4)}
             - (s1 / 100.0) * (s1 / 100.0) / CAST(nw AS DOUBLE))
             / (CASE WHEN nw > 1 THEN CAST(nw AS DOUBLE) - 1.0 END), 0.0)) AS sd
           FROM b)
         SELECT strftime(d, '%Y-%m-%d') AS d,
           round(CAST(rev AS DOUBLE), 2) AS rev,
           CAST(nw AS BIGINT) AS n_window,
           ${r4Sql("mean")} AS mean_7,
           ${r4Sql("CASE WHEN nw > 1 THEN sd END")} AS sd_7,
           ${r4Sql("CASE WHEN nw > 1 THEN mean + 2.0 * sd END")} AS upper_band,
           ${r4Sql("CASE WHEN nw > 1 THEN mean - 2.0 * sd END")} AS lower_band,
           nw > 1 AND (CAST(rev AS DOUBLE) > mean + 2.0 * sd
             OR CAST(rev AS DOUBLE) < mean - 2.0 * sd) AS is_breach
         FROM m ORDER BY d""",
    "window_rsi" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
           sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
           FROM orders GROUP BY 1),
         dl AS (SELECT d, rev,
           rev - lag(rev, 1) OVER (ORDER BY d) AS delta FROM daily),
         gl AS (SELECT d, rev, delta,
           CASE WHEN delta > 0 THEN delta ELSE CAST(0 AS DECIMAL(19,2)) END AS gain,
           CASE WHEN delta < 0 THEN -delta ELSE CAST(0 AS DECIMAL(19,2)) END AS loss
           FROM dl),
         r AS (SELECT d, rev, delta,
           count(delta) OVER w AS nd14,
           CAST(sum(gain) OVER w AS DOUBLE) AS ag,
           CAST(sum(loss) OVER w AS DOUBLE) AS al
           FROM gl
           WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT strftime(d, '%Y-%m-%d') AS d,
           round(CAST(rev AS DOUBLE), 2) AS rev,
           round(CAST(delta AS DOUBLE), 2) AS delta,
           ${r4Sql("CASE WHEN nd14 = 14 THEN CASE WHEN ag + al > 0 THEN 100.0 * ag / (ag + al) ELSE 50.0 END END")}
             AS rsi_14
         FROM r ORDER BY d""",
    "window_rolling_skew" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
           sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
           FROM orders GROUP BY 1),
         tot AS (SELECT CAST(floor(
             CAST(CAST(sum(CAST(rev * 100 AS BIGINT)) AS BIGINT) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS c
           FROM daily),
         base AS (SELECT d,
           CAST(CAST(rev * 100 AS BIGINT) - c AS DECIMAL(18,0)) AS dx,
           CAST(c AS DOUBLE) AS cd
           FROM daily, tot),
         b2 AS (SELECT d, cd, dx,
           CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0)) AS dx2,
           CAST(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0))
             AS DECIMAL(25,0)) * CAST(dx AS DECIMAL(12,0)) AS dx3
           FROM base),
         r AS (SELECT d, cd, count(*) OVER w AS n30,
           CAST(sum(dx) OVER w AS DOUBLE) AS s1,
           ${dec2dSql("sum(dx2) OVER w", 0)} AS s2,
           ${dec2dSql("sum(dx3) OVER w", 0)} AS s3
           FROM b2
           WINDOW w AS (ORDER BY d ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
         m AS (SELECT d, cd, n30,
           s1 / CAST(n30 AS DOUBLE) AS m1,
           s2 / CAST(n30 AS DOUBLE)
             - (s1 / CAST(n30 AS DOUBLE)) * (s1 / CAST(n30 AS DOUBLE)) AS m2,
           s3 / CAST(n30 AS DOUBLE)
             - 3.0 * (s1 / CAST(n30 AS DOUBLE)) * (s2 / CAST(n30 AS DOUBLE))
             + 2.0 * (s1 / CAST(n30 AS DOUBLE)) * (s1 / CAST(n30 AS DOUBLE))
               * (s1 / CAST(n30 AS DOUBLE)) AS m3
           FROM r)
         SELECT strftime(d, '%Y-%m-%d') AS d, CAST(n30 AS BIGINT) AS n30,
           ${r4Sql("(cd + m1) / 100.0")} AS mean_30,
           ${r4Sql("CASE WHEN n30 = 30 AND m2 > 0 THEN sqrt(m2) / 100.0 END")} AS sd_30,
           ${r6Sql("CASE WHEN n30 = 30 AND m2 > 0 THEN m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) END")}
             AS skew_30
         FROM m ORDER BY d""",
    "events_periodogram" -> {
      def per(p: Int) =
        s"""SELECT CAST($p AS BIGINT) AS period_hours, nh AS n_hours,
           a_cos, b_sin, sn, snn FROM (
           SELECT CAST(sum(tc) AS DOUBLE) AS a_cos,
             CAST(sum(ts2) AS DOUBLE) AS b_sin
           FROM (
             SELECT
               CAST(${r6Sql("(CAST(n AS DOUBLE) - CAST(sn AS DOUBLE) / CAST(nh AS DOUBLE)) * c")} AS DECIMAL(18,6)) AS tc,
               CAST(${r6Sql("(CAST(n AS DOUBLE) - CAST(sn AS DOUBLE) / CAST(nh AS DOUBLE)) * s")} AS DECIMAL(18,6)) AS ts2
             FROM hr CROSS JOIN tot
             JOIN t$p ON t$p.k = hr.h % $p)), tot"""
      s"""WITH hr AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS n
           FROM ${evSql()} GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS sn, count(*) AS nh,
           ${dec2dSql("sum(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0)))", 0)} AS snn
           FROM hr),
         t24 AS (SELECT * FROM (VALUES ${trigValuesSql(24)}) t(k, c, s)),
         t168 AS (SELECT * FROM (VALUES ${trigValuesSql(168)}) t(k, c, s)),
         u AS (${per(24)} UNION ALL ${per(168)}),
         f AS (SELECT period_hours, n_hours, a_cos, b_sin,
           CAST(sn AS DOUBLE) AS snd, CAST(n_hours AS DOUBLE) AS nhd,
           snn - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
             / CAST(n_hours AS DOUBLE) AS sst,
           a_cos * a_cos + b_sin * b_sin AS pw
           FROM u)
         SELECT period_hours, n_hours,
           ${r4Sql("snd / nhd")} AS mean_per_hour,
           ${r4Sql("a_cos")} AS a_cos, ${r4Sql("b_sin")} AS b_sin,
           ${r4Sql("2.0 * sqrt(pw) / nhd")} AS amplitude,
           ${r6Sql("CASE WHEN sst > 0 THEN 2.0 * pw / (nhd * sst) END")}
             AS var_share
         FROM f ORDER BY period_hours"""
    },
    "events_granger" -> {
      // (38,0) moment sums bridged via dec2dSql (the dec2d class);
      // linear sums stay BIGINT→DOUBLE (exact int64 cast)
      def m2(a: String, b: String) =
        dec2dSql(s"sum(CAST($a AS DECIMAL(18,0)) * CAST($b AS DECIMAL(18,0)))", 0)
      def dir(label: String, yc: String, lyc: String, lxc: String) =
        s"""SELECT '$label' AS direction, n AS n_days,
           ${r6Sql("CASE WHEN abs(det) > 0.0 AND c11 > 0 AND rss_u > 0 AND n > 3 THEN b2 END")}
             AS beta_cross,
           ${r4Sql("CASE WHEN abs(det) > 0.0 AND c11 > 0 AND rss_u > 0 AND n > 3 THEN (rss_r - rss_u) * (CAST(n AS DOUBLE) - 3.0) / rss_u END")}
             AS f_stat
         FROM (SELECT n, det, c11, b2,
           cyy - b1 * cy1 - b2 * cy2 AS rss_u,
           cyy - cy1 * cy1 / c11 AS rss_r FROM (
           SELECT n, cyy, c11, c22, c12, cy1, cy2,
             c11 * c22 - c12 * c12 AS det,
             (cy1 * c22 - cy2 * c12) / (c11 * c22 - c12 * c12) AS b1,
             (cy2 * c11 - cy1 * c12) / (c11 * c22 - c12 * c12) AS b2
           FROM (
           SELECT count(*) AS n,
             ${m2(yc, yc)}
               - CAST(CAST(sum($yc) AS BIGINT) AS DOUBLE) * CAST(CAST(sum($yc) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cyy,
             ${m2(lyc, lyc)}
               - CAST(CAST(sum($lyc) AS BIGINT) AS DOUBLE) * CAST(CAST(sum($lyc) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c11,
             ${m2(lxc, lxc)}
               - CAST(CAST(sum($lxc) AS BIGINT) AS DOUBLE) * CAST(CAST(sum($lxc) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c22,
             ${m2(lyc, lxc)}
               - CAST(CAST(sum($lyc) AS BIGINT) AS DOUBLE) * CAST(CAST(sum($lxc) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c12,
             ${m2(lyc, yc)}
               - CAST(CAST(sum($lyc) AS BIGINT) AS DOUBLE) * CAST(CAST(sum($yc) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cy1,
             ${m2(lxc, yc)}
               - CAST(CAST(sum($lxc) AS BIGINT) AS DOUBLE) * CAST(CAST(sum($yc) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cy2
           FROM lagged)))"""
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nx,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ny
           FROM ${evSql()} WHERE event_type IN ('click', 'purchase')
           GROUP BY 1),
         lagged AS (SELECT * FROM (SELECT d, nx, ny,
             lag(nx, 1) OVER (ORDER BY d) AS lx,
             lag(ny, 1) OVER (ORDER BY d) AS ly
           FROM daily) WHERE lx IS NOT NULL)
         ${dir("click->purchase", "ny", "ly", "lx")}
         UNION ALL
         ${dir("purchase->click", "nx", "lx", "ly")}
         ORDER BY direction"""
    },
    "events_sprt_sequential" ->
      s"""WITH act AS (SELECT CAST(ts AS DATE) AS d, user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
           FROM ${evSql()} GROUP BY 1, 2),
         daily AS (SELECT d, (user_id % 2 = 0) AS arm, count(*) AS n,
           CAST(sum(conv) AS BIGINT) AS k
           FROM act GROUP BY 1, 2),
         p0a AS (SELECT CAST(CAST(sum(k) AS BIGINT) AS DOUBLE)
             / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) AS p0
           FROM daily WHERE NOT arm),
         p0row AS (SELECT p0, least(0.999, p0 * 1.2) AS p1,
           ${r6Sql("ln(least(0.999, p0 * 1.2) / p0)")} AS l1,
           ${r6Sql("ln((1.0 - least(0.999, p0 * 1.2)) / (1.0 - p0))")} AS l0
           FROM p0a),
         t AS (SELECT d,
           CAST(${r6Sql("CAST(k AS DOUBLE) * l1 + CAST(n - k AS DOUBLE) * l0")}
             AS DECIMAL(16,6)) AS term
           FROM daily, p0row WHERE arm),
         cum AS (SELECT d, term,
           CAST(sum(term) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS DOUBLE) AS llr
           FROM t),
         crossed AS (SELECT d AS cross_d,
           CASE WHEN llr >= 2.9444389791664403 THEN 1 ELSE -1 END AS dir
           FROM cum
           WHERE llr >= 2.9444389791664403 OR llr <= -2.9444389791664403
           ORDER BY d LIMIT 1),
         fin AS (SELECT count(*) AS n_days,
           CAST(sum(term) AS DOUBLE) AS final_llr FROM cum)
         SELECT n_days, ${r6Sql("p0")} AS p0_rate, ${r6Sql("p1")} AS p1_rate,
           ${r4Sql("final_llr")} AS final_llr,
           strftime(crossed.cross_d, '%Y-%m-%d') AS crossing_day,
           CASE WHEN crossed.dir = 1 THEN 'accept_h1'
                WHEN crossed.dir = -1 THEN 'accept_h0'
                ELSE 'continue' END AS decision
         FROM fin CROSS JOIN p0row LEFT JOIN crossed ON TRUE""",
    "agg_cramers_v" ->
      s"""WITH cells AS (SELECT c_mktsegment AS p, c_nationkey AS s,
           count(*) AS n FROM customer GROUP BY 1, 2),
         rmar AS (SELECT p, CAST(sum(n) AS BIGINT) AS rt
           FROM cells GROUP BY p),
         cmar AS (SELECT s, CAST(sum(n) AS BIGINT) AS ct
           FROM cells GROUP BY s),
         tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cells),
         grid AS (SELECT rmar.p, cmar.s, rt, ct, tot,
           coalesce(cells.n, 0) AS n0
           FROM rmar CROSS JOIN cmar CROSS JOIN tt
           LEFT JOIN cells ON cells.p = rmar.p AND cells.s = cmar.s),
         t AS (SELECT p, s, n0, tot,
           ${r6Sql("CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot AS DOUBLE)")} AS expv
           FROM grid),
         u AS (SELECT CAST(max(tot) AS BIGINT) AS n,
           count(DISTINCT p) AS r_cat, count(DISTINCT s) AS k_cat,
           CAST(sum(CAST(${r6Sql("(CAST(n0 AS DOUBLE) - expv) * (CAST(n0 AS DOUBLE) - expv) / expv")} AS DECIMAL(16,6))) AS DOUBLE) AS chi2
           FROM t),
         f AS (SELECT n, r_cat, k_cat, chi2,
           chi2 / CAST(n AS DOUBLE) AS phi2,
           CAST(r_cat AS DOUBLE) AS rd, CAST(k_cat AS DOUBLE) AS kd,
           CAST(n AS DOUBLE) AS nd FROM u),
         g AS (SELECT *,
           least(rd - 1, kd - 1) AS mindim,
           greatest(phi2 - (rd - 1) * (kd - 1) / (nd - 1), 0.0) AS phi2c,
           rd - (rd - 1) * (rd - 1) / (nd - 1) AS rc,
           kd - (kd - 1) * (kd - 1) / (nd - 1) AS kc
           FROM f)
         SELECT n, r_cat, k_cat, ${r4Sql("chi2")} AS chi2,
           ${r6Sql("CASE WHEN mindim > 0 THEN sqrt(phi2 / mindim) END")}
             AS cramers_v,
           ${r6Sql("CASE WHEN least(rc, kc) > 1 THEN sqrt(phi2c / least(rc - 1, kc - 1)) END")}
             AS cramers_v_corrected
         FROM g""",
    "events_retention_fit" ->
      s"""WITH active AS (SELECT DISTINCT user_id,
           date_trunc('day', ts) AS day FROM ${evSql()}),
         cohort AS (SELECT user_id, min(day) AS cohort_day
           FROM active GROUP BY user_id),
         offs AS (SELECT CAST(datediff('day', CAST(cohort_day AS DATE),
             CAST(day AS DATE)) AS BIGINT) AS k, count(*) AS n_active
           FROM active JOIN cohort USING (user_id) GROUP BY 1),
         base AS (SELECT n_active AS n0 FROM offs WHERE k = 0),
         pts AS (SELECT CAST(k AS DOUBLE) AS x,
           ln(CAST(n_active AS DOUBLE) / CAST(n0 AS DOUBLE)) AS y
           FROM offs, base WHERE k >= 1 AND k <= 14 AND n_active > 0),
         s AS (SELECT count(*) AS m,
           CAST(sum(CAST(${r6Sql("x")} AS DECIMAL(16,6))) AS DOUBLE) AS sx,
           CAST(sum(CAST(${r6Sql("y")} AS DECIMAL(16,6))) AS DOUBLE) AS sy,
           CAST(sum(CAST(${r6Sql("x * y")} AS DECIMAL(16,6))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(${r6Sql("x * x")} AS DECIMAL(16,6))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(${r6Sql("y * y")} AS DECIMAL(16,6))) AS DOUBLE) AS syy
           FROM pts),
         f AS (SELECT m,
           CAST(m AS DOUBLE) * sxx - sx * sx AS det,
           (CAST(m AS DOUBLE) * sxy - sx * sy)
             / (CAST(m AS DOUBLE) * sxx - sx * sx) AS b,
           sy, sx, syy, sxx FROM s),
         f2 AS (SELECT m, det, b, (sy - b * sx) / CAST(m AS DOUBLE) AS a,
           syy - sy * sy / CAST(m AS DOUBLE) AS sstot,
           syy - sy * sy / CAST(m AS DOUBLE) - b * b * det / CAST(m AS DOUBLE)
             AS ssres
           FROM f)
         SELECT base.n0 AS n_day0_users, m AS n_points,
           ${r4Sql("CASE WHEN m >= 3 AND abs(det) > 0.0 THEN a END")}
             AS intercept_ln,
           ${r6Sql("CASE WHEN m >= 3 AND abs(det) > 0.0 THEN b END")}
             AS daily_decay,
           ${r4Sql("CASE WHEN m >= 3 AND abs(det) > 0.0 AND b < 0 THEN -0.6931471805599453 / b END")}
             AS half_life_days,
           ${r6Sql("CASE WHEN m >= 3 AND abs(det) > 0.0 AND sstot > 0 THEN 1.0 - ssres / sstot END")}
             AS r2
         FROM f2, base""",
    "agg_em_mixture" ->
      s"""WITH xs AS (SELECT CAST(value AS DECIMAL(10,2)) AS xd,
           CAST(CAST(value AS DECIMAL(10,2)) AS DOUBLE) AS x
           FROM ${evSql()} WHERE event_type = 'purchase'),
         p0 AS (SELECT count(*) AS n,
           CAST(sum(xd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean,
           CAST(sum(CAST(xd * xd AS DECIMAL(20,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE)
             - (CAST(sum(xd) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               * (CAST(sum(xd) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS varall
           FROM xs),
         v0 AS (SELECT n, 0.5 AS w1, mean / 2.0 AS mu1, mean * 2.0 AS mu2,
           sqrt(varall) AS s1, sqrt(varall) AS s2 FROM p0),
         $emIterCtes
         SELECT n,
           floor(w1 * 1e6 + 0.5) / 1e6 AS w1,
           floor(mu1 * 1e4 + 0.5) / 1e4 AS mu1,
           floor(s1 * 1e4 + 0.5) / 1e4 AS sigma1,
           floor(mu2 * 1e4 + 0.5) / 1e4 AS mu2,
           floor(s2 * 1e4 + 0.5) / 1e4 AS sigma2
         FROM v3""",
    "events_power_analysis" ->
      s"""WITH pu AS (SELECT
           CASE WHEN user_id % 2 = 0 THEN 'T' ELSE 'C' END AS grp, user_id,
           sum(CASE WHEN event_type = 'purchase'
             THEN CAST(value AS DECIMAL(10,2))
             ELSE CAST(0 AS DECIMAL(10,2)) END) AS spend
           FROM ${evSql()} GROUP BY 1, 2),
         arms AS (SELECT grp, count(*) AS n_users,
           CAST(sum(CASE WHEN spend > 800 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_conv
           FROM pu GROUP BY grp),
         base AS (SELECT n_users AS n_c, n_conv AS k_c FROM arms
           WHERE grp = 'C'),
         g AS (SELECT n_c, k_c, unnest([0.05, 0.10, 0.20]) AS lift FROM base),
         x AS (SELECT n_c, k_c, CAST(lift AS DOUBLE) AS lift,
           CAST(k_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS p0 FROM g),
         y AS (SELECT n_c, k_c, lift, p0,
           p0 * (1.0 + lift) AS p1, (p0 + p0 * (1.0 + lift)) / 2.0 AS pbar
           FROM x),
         z AS (SELECT n_c, k_c, lift, p0, p1,
           CASE WHEN p1 < 1.0 AND p0 > 0.0 THEN
             CAST(ceil(((1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
               + 0.841621 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
               * (1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
               + 0.841621 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1))))
               / ((p1 - p0) * (p1 - p0))) AS BIGINT)
           END AS n_req
           FROM y)
         SELECT ${r4Sql("lift")} AS rel_lift,
           ${r6Sql("p0")} AS p_base, ${r6Sql("p1")} AS p_target,
           n_req AS n_required_per_arm,
           n_c AS n_available_per_arm,
           n_c >= n_req AS powered
         FROM z ORDER BY rel_lift""",
    "events_stl_decompose" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
           FROM ${evSql()} GROUP BY 1),
         t AS (SELECT d, n,
           CAST(sum(n) OVER w7 AS DOUBLE) / CAST(count(*) OVER w7 AS DOUBLE)
             AS trend,
           dayofweek(d) AS dow
           FROM daily
           WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         s AS (SELECT dow,
           CAST(sum(CAST(${r6Sql("CAST(n AS DOUBLE) - trend")} AS DECIMAL(16,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS seasonal
           FROM t GROUP BY dow)
         SELECT strftime(t.d, '%Y-%m-%d') AS day_s, t.n,
           ${r4Sql("t.trend")} AS trend,
           ${r4Sql("s.seasonal")} AS seasonal,
           ${r4Sql("CAST(t.n AS DOUBLE) - t.trend - s.seasonal")} AS residual
         FROM t JOIN s USING (dow) ORDER BY day_s""",
    "events_uplift_did" ->
      s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(value AS DECIMAL(10,2)) AS v
           FROM ${evSql()} WHERE event_type = 'purchase'),
         sp AS (SELECT CAST(min(d) AS DATE)
             + CAST(CAST(date_diff('day', min(d), max(d)) AS BIGINT) // 2
               AS INTEGER) AS mid FROM ev),
         cells AS (SELECT
           CASE WHEN user_id % 2 = 0 THEN 'T' ELSE 'C' END AS grp,
           CASE WHEN d <= sp.mid THEN 'pre' ELSE 'post' END AS period,
           count(*) AS n, sum(v) AS s
           FROM ev, sp GROUP BY 1, 2),
         m AS (SELECT grp, period,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM cells),
         w AS (SELECT
           max(CASE WHEN grp = 'T' AND period = 'pre' THEN mean END) AS tp,
           max(CASE WHEN grp = 'T' AND period = 'post' THEN mean END) AS tq,
           max(CASE WHEN grp = 'C' AND period = 'pre' THEN mean END) AS cp,
           max(CASE WHEN grp = 'C' AND period = 'post' THEN mean END) AS cq
           FROM m)
         SELECT ${r4Sql("tp")} AS t_pre, ${r4Sql("tq")} AS t_post,
           ${r4Sql("cp")} AS c_pre, ${r4Sql("cq")} AS c_post,
           ${r6Sql("(tq - tp) - (cq - cp)")} AS did_effect,
           ${r6Sql("tq - cq")} AS naive_post_diff
         FROM w""",
    "agg_theil_decomposition" ->
      s"""WITH c AS (SELECT c_mktsegment AS seg,
           CAST(c_acctbal AS DECIMAL(10,2)) AS x
           FROM customer WHERE c_acctbal > 0),
         g AS (SELECT count(*) AS n, sum(x) AS s FROM c),
         rt AS (SELECT sum(CAST(${r6Sql("CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE) / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))")} AS DECIMAL(16,6))) AS t_num
           FROM c, g),
         sg AS (SELECT seg, count(*) AS ng, sum(x) AS ssg FROM c GROUP BY seg),
         bt AS (SELECT sum(CAST(${r6Sql("(CAST(ssg AS DOUBLE) / CAST(s AS DOUBLE)) * ln((CAST(ssg AS DOUBLE) / CAST(ng AS DOUBLE)) / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))")} AS DECIMAL(16,6))) AS t_btw
           FROM sg, g)
         SELECT n, round(CAST(s AS DOUBLE), 2) AS total_bal,
           ${r6Sql("CAST(t_num AS DOUBLE) / CAST(s AS DOUBLE)")} AS theil_total,
           CAST(t_btw AS DOUBLE) AS theil_between,
           ${r6Sql("CAST(t_num AS DOUBLE) / CAST(s AS DOUBLE) - CAST(t_btw AS DOUBLE)")} AS theil_within
         FROM g, rt, bt""",
    "agg_hhi_concentration" ->
      s"""WITH per AS (SELECT o_orderpriority AS prio, o_custkey,
           sum(CAST(o_totalprice AS DECIMAL(10,2))) AS s
           FROM orders GROUP BY 1, 2),
         a AS (SELECT prio, count(*) AS n_customers, sum(s) AS tot,
           sum(CAST(s AS DECIMAL(18,2)) * CAST(s AS DECIMAL(18,2))) AS s2,
           max(s) AS smax
           FROM per GROUP BY prio)
         SELECT prio, n_customers,
           round(CAST(tot AS DOUBLE), 2) AS total_rev,
           ${r6Sql("CAST(s2 AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))")} AS hhi,
           ${r4Sql("(CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) / CAST(s2 AS DOUBLE)")} AS effective_n,
           ${r6Sql("CAST(smax AS DOUBLE) / CAST(tot AS DOUBLE)")} AS top_share
         FROM a ORDER BY prio""",
    "events_poisson_anomaly" ->
      s"""WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS d,
           count(*) AS n FROM ${evSql()} GROUP BY 1, 2),
         tot AS (SELECT et, count(*) AS nd, sum(n) AS ntot
           FROM daily GROUP BY et),
         z AS (SELECT daily.et, d, n, nd, ntot,
           CASE WHEN nd > 1 THEN CAST(ntot - n AS DOUBLE) / CAST(nd - 1 AS DOUBLE) END AS lam
           FROM daily JOIN tot USING (et)),
         zz AS (SELECT et, d, n, nd, ntot,
           (CAST(n AS DOUBLE) - lam) / sqrt(lam) AS z FROM z)
         SELECT et, max(nd) AS n_days,
           ${r4Sql("CAST(max(ntot) AS DOUBLE) / CAST(max(nd) AS DOUBLE)")} AS mean_daily,
           CAST(sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies,
           ${r4Sql("max(z)")} AS max_z,
           min(CASE WHEN abs(z) > 3 THEN strftime(d, '%Y-%m-%d') END)
             AS first_anomaly_day
         FROM zz GROUP BY et ORDER BY et""",
    "agg_countmin_heavy" ->
      s"""SELECT user_id, n_exact, TRUE AS never_under, TRUE AS within_eps
         FROM (SELECT user_id, count(*) AS n_exact FROM ${evSql()}
           GROUP BY user_id ORDER BY n_exact DESC, user_id LIMIT 5)
         ORDER BY n_exact DESC, user_id""",
    "events_metric_decomposition" ->
      s"""WITH sp AS (SELECT CAST(min(CAST(ts AS DATE)) AS DATE)
             + CAST(CAST(date_diff('day', min(CAST(ts AS DATE)),
               max(CAST(ts AS DATE))) AS BIGINT) // 2 AS INTEGER) AS mid
           FROM ${evSql()}),
         g AS (SELECT event_type AS et,
           CASE WHEN CAST(ts AS DATE) <= sp.mid THEN 'A' ELSE 'B' END AS period,
           count(*) AS n, sum(CAST(value AS DECIMAL(10,2))) AS s
           FROM ${evSql()}, sp GROUP BY 1, 2),
         w AS (SELECT et,
           max(CASE WHEN period = 'A' THEN n END) AS n1,
           max(CASE WHEN period = 'A' THEN s END) AS s1,
           max(CASE WHEN period = 'B' THEN n END) AS n2,
           max(CASE WHEN period = 'B' THEN s END) AS s2
           FROM g GROUP BY et
           HAVING max(CASE WHEN period = 'A' THEN n END) IS NOT NULL
             AND max(CASE WHEN period = 'B' THEN n END) IS NOT NULL),
         m AS (SELECT et, n1, n2,
           CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS v1,
           CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS v2,
           CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) AS delta,
           CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d
           FROM w)
         SELECT et, n1, n2, ${r4Sql("v1")} AS mean_first,
           ${r4Sql("v2")} AS mean_second, ${r4Sql("delta")} AS delta_total,
           ${r4Sql("(n2d - n1d) * v1")} AS volume_effect,
           ${r4Sql("n1d * (v2 - v1)")} AS rate_effect,
           ${r4Sql("(n2d - n1d) * (v2 - v1)")} AS interaction
         FROM m ORDER BY et""",
    "agg_trimmed_mean" ->
      s"""WITH g AS (SELECT l_returnflag AS flag,
           CAST(l_extendedprice AS DECIMAL(14,2)) AS p, count(*) AS c
           FROM lineitem GROUP BY 1, 2),
         w AS (SELECT flag, p, c,
           sum(c) OVER (PARTITION BY flag ORDER BY p) AS cum,
           sum(c) OVER (PARTITION BY flag) AS tot FROM g),
         q AS (SELECT flag,
           min(CASE WHEN cum * 20 >= tot THEN p END) AS p5,
           min(CASE WHEN cum * 20 >= tot * 19 THEN p END) AS p95
           FROM w GROUP BY flag),
         r AS (SELECT l.l_returnflag AS flag,
           CAST(l.l_extendedprice AS DECIMAL(14,2)) AS p, q.p5, q.p95
           FROM lineitem l JOIN q ON l.l_returnflag = q.flag)
         SELECT flag, count(*) AS n,
           CAST(sum(CASE WHEN p >= p5 AND p <= p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ${r4Sql("CAST(sum(p) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS mean_raw,
           ${r4Sql("CAST(sum(CASE WHEN p >= p5 AND p <= p95 THEN p ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE) / CAST(sum(CASE WHEN p >= p5 AND p <= p95 THEN 1 ELSE 0 END) AS DOUBLE)")} AS mean_trimmed,
           ${r4Sql("CAST(sum(CASE WHEN p < p5 THEN p5 WHEN p > p95 THEN p95 ELSE p END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS mean_winsorized
         FROM r GROUP BY flag ORDER BY flag""",
    "agg_raking_weights" ->
      s"""WITH cells AS (SELECT c_nationkey AS x, c_mktsegment AS y,
           count(*) AS n FROM customer GROUP BY 1, 2),
         st AS (SELECT count(DISTINCT x) AS nx, count(DISTINCT y) AS ny,
           sum(n) AS tot FROM cells),
         c0 AS (SELECT x, y, n,
           CAST(tot AS DOUBLE) / CAST(nx AS DOUBLE) AS tx,
           CAST(tot AS DOUBLE) / CAST(ny AS DOUBLE) AS ty FROM cells, st),
         s1 AS (SELECT *, tx / CAST(sum(n) OVER (PARTITION BY x) AS DOUBLE) AS w1
           FROM c0),
         s2 AS (SELECT *, w1 * (ty / CAST(sum(CAST(${r6Sql("w1 * CAST(n AS DOUBLE)")} AS DECIMAL(18,6))) OVER (PARTITION BY y) AS DOUBLE)) AS w2
           FROM s1),
         s3 AS (SELECT *, w2 * (tx / CAST(sum(CAST(${r6Sql("w2 * CAST(n AS DOUBLE)")} AS DECIMAL(18,6))) OVER (PARTITION BY x) AS DOUBLE)) AS w3
           FROM s2),
         s4 AS (SELECT *, w3 * (ty / CAST(sum(CAST(${r6Sql("w3 * CAST(n AS DOUBLE)")} AS DECIMAL(18,6))) OVER (PARTITION BY y) AS DOUBLE)) AS w4
           FROM s3)
         SELECT x, y, n, ${r6Sql("w4")} AS weight,
           ${r4Sql("w4 * CAST(n AS DOUBLE)")} AS weighted_n
         FROM s4 ORDER BY x, y""",
    "agg_dp_counts" ->
      s"""WITH n1 AS (SELECT CAST(c_nationkey AS VARCHAR) AS key,
           count(*) AS n FROM customer GROUP BY 1),
         n2 AS (SELECT CAST(c_nationkey AS VARCHAR) || ':' || c_mktsegment AS key,
           count(*) AS n FROM customer GROUP BY 1),
         u AS (SELECT 'nation' AS level, key, n FROM n1
           UNION ALL SELECT 'nation_segment', key, n FROM n2),
         w AS (SELECT level, key, n,
           CAST(CAST(('0x' || substr(md5('dp|' || key), 1, 15)) AS BIGINT)
             AS DOUBLE) / 1152921504606846976.0 - 0.5 AS c
           FROM u),
         r AS (SELECT level, key, n,
           -(1.0 / 0.5) * sign(c) * ln(1.0 - 2.0 * abs(c)) AS noise
           FROM w)
         SELECT level, key, n AS n_true, ${r4Sql("noise")} AS noise,
           ${r4Sql("CAST(n AS DOUBLE) + noise")} AS n_released,
           CAST(0.5 AS DOUBLE) AS epsilon
         FROM r ORDER BY level, key""",
    "agg_ks_test" ->
      s"""WITH v AS (SELECT CAST(value AS DECIMAL(10,2)) AS val,
           count(*) FILTER (WHERE event_type = 'purchase') AS k1,
           count(*) FILTER (WHERE event_type = 'click') AS k2
           FROM ${evSql()} WHERE event_type IN ('purchase', 'click')
           GROUP BY 1),
         c AS (SELECT val,
           sum(k1) OVER (ORDER BY val) AS c1,
           sum(k2) OVER (ORDER BY val) AS c2,
           sum(k1) OVER () AS n1, sum(k2) OVER () AS n2 FROM v),
         d AS (SELECT max(n1) AS n1, max(n2) AS n2,
           max(abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS dmax FROM c)
         SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ${r6Sql("dmax")} AS d_stat,
           ${r6Sql("least(1.0, 2.0 * exp(-2.0 * dmax * dmax * (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))))")} AS p_bound
         FROM d""",
    "agg_mann_whitney" ->
      s"""WITH v AS (SELECT CAST(value AS DECIMAL(10,2)) AS val,
           count(*) FILTER (WHERE event_type = 'purchase') AS k1,
           count(*) FILTER (WHERE event_type = 'click') AS k2
           FROM ${evSql()} WHERE event_type IN ('purchase', 'click')
           GROUP BY 1),
         t AS (SELECT val, k1, k2, k1 + k2 AS kt FROM v),
         c AS (SELECT k1, k2, kt, COALESCE(sum(kt) OVER (ORDER BY val
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM t),
         g AS (SELECT sum(k1) AS n1, sum(k2) AS n2,
           sum(CAST(k1 AS HUGEINT) * (2 * cb + kt + 1)) AS r1x2,
           sum(CAST(kt AS HUGEINT) * kt * kt - kt) AS ties FROM c),
         m AS (SELECT n1, n2,
           CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
           CAST(r1x2 AS DOUBLE) / 2.0
             - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0 AS u1,
           CAST(ties AS DOUBLE) AS tiesd FROM g)
         SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ${r4Sql("u1")} AS u_stat,
           ${r4Sql("n1d * n2d / 2.0")} AS u_mean,
           ${r6Sql("(u1 - n1d * n2d / 2.0) / sqrt(n1d * n2d / 12.0 * ((n1d + n2d + 1.0) - tiesd / ((n1d + n2d) * (n1d + n2d - 1.0))))")} AS z_stat
         FROM m""",
    "agg_mutual_info" ->
      s"""WITH cells AS (SELECT c_nationkey AS x, c_mktsegment AS y,
           count(*) AS n FROM customer GROUP BY 1, 2),
         t AS (SELECT x, y, n,
           sum(n) OVER (PARTITION BY x) AS rx,
           sum(n) OVER (PARTITION BY y) AS cy,
           sum(n) OVER () AS tot FROM cells),
         mi AS (SELECT max(tot) AS n_total,
           count(DISTINCT x) AS n_x, count(DISTINCT y) AS n_y,
           sum(CAST(${r6Sql("CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) * ln(CAST(n AS DOUBLE) * CAST(tot AS DOUBLE) / (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)))")} AS DECIMAL(16,6))) AS mi_s
           FROM t),
         hx AS (SELECT sum(CAST(${r6Sql("-(CAST(m AS DOUBLE) / CAST(tt AS DOUBLE)) * ln(CAST(m AS DOUBLE) / CAST(tt AS DOUBLE))")} AS DECIMAL(16,6))) AS hx
           FROM (SELECT x, max(rx) AS m, max(tot) AS tt FROM t GROUP BY x)),
         hy AS (SELECT sum(CAST(${r6Sql("-(CAST(m AS DOUBLE) / CAST(tt AS DOUBLE)) * ln(CAST(m AS DOUBLE) / CAST(tt AS DOUBLE))")} AS DECIMAL(16,6))) AS hy
           FROM (SELECT y, max(cy) AS m, max(tot) AS tt FROM t GROUP BY y))
         SELECT CAST(n_total AS BIGINT) AS n_total, n_x, n_y,
           CAST(hx AS DOUBLE) AS h_x, CAST(hy AS DOUBLE) AS h_y,
           CAST(mi_s AS DOUBLE) AS mi,
           CASE WHEN CAST(hx AS DOUBLE) * CAST(hy AS DOUBLE) > 0
             THEN ${r6Sql("CAST(mi_s AS DOUBLE) / sqrt(CAST(hx AS DOUBLE) * CAST(hy AS DOUBLE))")}
           END AS nmi
         FROM mi, hx, hy""",
    "join_fuzzy_match" ->
      """WITH p AS (SELECT p_partkey AS pk, p_name AS name,
           substr(p_name, 1, 6) AS blk FROM part),
         c AS (SELECT * FROM p
           QUALIFY row_number() OVER (PARTITION BY blk ORDER BY pk) <= 64),
         pr AS (SELECT a.pk AS pk1, b.pk AS pk2,
           levenshtein(a.name, b.name) AS d
           FROM c a JOIN c b ON a.blk = b.blk AND a.pk < b.pk)
         SELECT pk1, pk2, CAST(d AS BIGINT) AS d FROM pr WHERE d <= 2
         ORDER BY d, pk1, pk2 LIMIT 100""",
    "events_two_proportion_z" ->
      s"""WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0,
           max(CAST(ts AS DATE)) AS d1 FROM ${evSql()}),
         md AS (SELECT d0 + CAST(date_diff('day', d0, d1) // 2 AS INTEGER) AS mid
           FROM span),
         g AS (SELECT CASE WHEN CAST(ts AS DATE) <= mid THEN 'A' ELSE 'B' END
             AS period,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS k,
           count(*) AS n
           FROM ${evSql()}, md WHERE event_type IN ('purchase', 'click')
           GROUP BY 1),
         o AS (SELECT
           max(CASE WHEN period = 'A' THEN k END) AS k1,
           max(CASE WHEN period = 'A' THEN n END) AS n1,
           max(CASE WHEN period = 'B' THEN k END) AS k2,
           max(CASE WHEN period = 'B' THEN n END) AS n2 FROM g),
         m AS (SELECT k1, n1, k2, n2,
           CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
           CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
           CAST(k1 + k2 AS DOUBLE) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
             AS pp FROM o)
         SELECT k1, n1, k2, n2,
           ${r6Sql("p1")} AS rate_first, ${r6Sql("p2")} AS rate_second,
           ${r4Sql("(p1 - p2) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))")} AS z_stat
         FROM m""",
    // the oracle runs the UNREWRITTEN window idiom — hash equality
    // proves TopKWindowRewrite is semantics-preserving on real data
    "window_topk_rewrite" ->
      """SELECT c_mktsegment AS segment, c_custkey,
         round(CAST(CAST(c_acctbal AS DECIMAL(14,2)) AS DOUBLE), 2) AS acctbal
         FROM customer
         QUALIFY row_number() OVER (PARTITION BY c_mktsegment
           ORDER BY c_acctbal DESC, c_custkey) <= 3
         ORDER BY segment, acctbal DESC, c_custkey""",
    "agg_tukey_fences" ->
      s"""WITH g AS (SELECT l_returnflag AS flag,
           CAST(l_extendedprice AS DECIMAL(14,2)) AS p, count(*) AS c
           FROM lineitem GROUP BY 1, 2),
         w AS (SELECT flag, p, c, sum(c) OVER win AS cum,
           sum(c) OVER (PARTITION BY flag) AS tot FROM g
           WINDOW win AS (PARTITION BY flag ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         q AS (SELECT flag,
           min(CASE WHEN cum * 4 >= tot THEN p END) AS q1,
           min(CASE WHEN cum * 4 >= tot * 3 THEN p END) AS q3
           FROM w GROUP BY flag),
         f AS (SELECT flag, q1, q3,
           CAST(q1 AS DOUBLE) - CAST(q3 - q1 AS DOUBLE) * 1.5 AS lo,
           CAST(q3 AS DOUBLE) + CAST(q3 - q1 AS DOUBLE) * 1.5 AS hi FROM q),
         o AS (SELECT li.l_returnflag AS flag,
           CAST(li.l_extendedprice AS DECIMAL(14,2)) AS p,
           f.lo, f.hi, f.q1, f.q3
           FROM lineitem li JOIN f ON f.flag = li.l_returnflag)
         SELECT flag, count(*) AS n,
           CAST(sum(CASE WHEN CAST(p AS DOUBLE) < lo OR CAST(p AS DOUBLE) > hi
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(CAST(max(q1) AS DOUBLE), 2) AS q1,
           round(CAST(max(q3) AS DOUBLE), 2) AS q3,
           ${r6Sql("CAST(sum(CASE WHEN CAST(p AS DOUBLE) < lo OR CAST(p AS DOUBLE) > hi THEN p ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE) / CAST(sum(p) AS DOUBLE)")}
             AS outlier_rev_share
         FROM o GROUP BY flag ORDER BY flag""",
    "events_autocorrelation" -> {
      def acfCte(k: Int) =
        s"""SELECT CAST($k AS BIGINT) AS lag, count(*) AS n_pairs,
           ${r4Sql(s"CAST(sum(CASE WHEN devk IS NOT NULL THEN term END) AS DOUBLE) / CAST(max(den) AS DOUBLE)")} AS acf
           FROM (SELECT den,
             lead(dev, $k) OVER (ORDER BY d) AS devk,
             CAST(${r6Sql(s"dev * lead(dev, $k) OVER (ORDER BY d)")}
               AS DECIMAL(16,6)) AS term
             FROM c) WHERE devk IS NOT NULL"""
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
           sum(CAST(value AS DECIMAL(10,2))) AS rev_d
           FROM ${evSql()} GROUP BY 1),
         b AS (SELECT d, rev_d,
           CAST(sum(rev_d) OVER () AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE)
             AS ybar FROM daily),
         c0 AS (SELECT d, CAST(rev_d AS DOUBLE) - ybar AS dev FROM b),
         c AS (SELECT d, dev,
           sum(CAST(${r6Sql("dev * dev")} AS DECIMAL(16,6))) OVER () AS den
           FROM c0)
         SELECT * FROM (${acfCte(1)} UNION ALL ${acfCte(7)}) ORDER BY lag"""
    },
    "agg_price_elasticity" ->
      s"""WITH pts AS (SELECT l_returnflag AS flag,
           CAST(${r6Sql("ln(l_extendedprice / l_quantity)")} AS DECIMAL(16,6)) AS x,
           CAST(${r6Sql("ln(l_quantity)")} AS DECIMAL(16,6)) AS y
           FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0),
         s AS (SELECT flag, CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
           CAST(sum(x * y) AS DOUBLE) AS sxy,
           CAST(sum(x * x) AS DOUBLE) AS sxx
           FROM pts GROUP BY flag)
         SELECT flag, CAST(nd AS BIGINT) AS n,
           ${r4Sql("(nd * sxy - sx * sy) / (nd * sxx - sx * sx)")} AS elasticity,
           ${r4Sql("(sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx) * sx) / nd")} AS intercept
         FROM s ORDER BY flag""",
    "events_max_drawdown" ->
      s"""WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS d,
           sum(CAST(value AS DECIMAL(10,2))) AS rev_d
           FROM ${evSql()} GROUP BY 1, 2),
         c AS (SELECT et, d, rev_d,
           sum(rev_d) OVER win AS cum FROM daily
           WINDOW win AS (PARTITION BY et ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         p AS (SELECT *, max(cum) OVER (PARTITION BY et ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM c),
         dd AS (SELECT et, d, cum, peak, peak - cum AS dd FROM p)
         SELECT et, round(CAST(dd AS DOUBLE), 2) AS max_drawdown,
           strftime(d, '%Y-%m-%d') AS trough_day_s,
           round(CAST(peak AS DOUBLE), 2) AS peak_cum,
           round(CAST(cum AS DOUBLE), 2) AS trough_cum
         FROM dd
         QUALIFY row_number() OVER (PARTITION BY et ORDER BY dd DESC, d) = 1
         ORDER BY et""",
    "agg_basket_lift" ->
      s"""WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
           event_type AS t FROM ${evSql()}),
         nb AS (SELECT count(*) AS nb
           FROM (SELECT DISTINCT user_id, d FROM b)),
         s AS (SELECT t, count(*) AS c FROM b GROUP BY t),
         p AS (SELECT x.t AS t1, y.t AS t2, count(*) AS n_both
           FROM b x JOIN b y ON x.user_id = y.user_id AND x.d = y.d
             AND x.t < y.t
           GROUP BY 1, 2)
         SELECT t1, t2, n_both,
           ${r6Sql("CAST(n_both AS DOUBLE) / CAST(nb AS DOUBLE)")} AS support,
           ${r4Sql("CAST(n_both AS DOUBLE) * CAST(nb AS DOUBLE) / (CAST(s1.c AS DOUBLE) * CAST(s2.c AS DOUBLE))")} AS lift
         FROM p
           JOIN (SELECT t AS t1, c FROM s) s1 USING (t1)
           JOIN (SELECT t AS t2, c FROM s) s2 USING (t2), nb
         ORDER BY t1, t2""",
    "agg_k_anonymity" ->
      s"""WITH g AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
           c_mktsegment AS segment, count(*) AS n
           FROM customer GROUP BY 1, 2),
         w AS (SELECT *, sum(n) OVER () AS tot,
           sum(CASE WHEN n < 5 THEN n ELSE 0 END) OVER () AS risky_rows
           FROM g)
         SELECT nation, segment, n, n < 5 AS risky,
           ${r6Sql("CAST(risky_rows AS DOUBLE) / CAST(tot AS DOUBLE)")} AS at_risk_frac
         FROM w ORDER BY nation, segment""",
    "events_heatmap_dow_hour" ->
      s"""WITH c AS (SELECT isodow(ts) AS isodow, hour(ts) AS hr, count(*) AS n
           FROM ${evSql()} GROUP BY 1, 2),
         t AS (SELECT *, sum(n) OVER () AS tot FROM c)
         SELECT CAST(isodow AS BIGINT) AS isodow, CAST(hr AS BIGINT) AS hr, n,
           ${r6Sql("CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)")} AS share
         FROM t ORDER BY isodow, hr""",
    "agg_new_vs_returning" ->
      s"""WITH pairs AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
           FROM ${evSql()}),
         fs AS (SELECT user_id, min(d) AS fd FROM pairs GROUP BY user_id),
         g AS (SELECT d, count(*) AS n_active,
           sum(CASE WHEN d = fd THEN 1 ELSE 0 END) AS n_new
           FROM pairs JOIN fs USING (user_id) GROUP BY d)
         SELECT strftime(d, '%Y-%m-%d') AS day_s, n_active,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_active - n_new AS BIGINT) AS n_returning,
           ${r6Sql("CAST(n_new AS DOUBLE) / CAST(n_active AS DOUBLE)")} AS new_share
         FROM g ORDER BY day_s""",
    "events_time_to_convert" ->
      s"""WITH fc AS (SELECT user_id, min(epoch_us(ts)) AS c0
           FROM ${evSql()} WHERE event_type = 'click' GROUP BY user_id),
         fp AS (SELECT e.user_id, min(epoch_us(e.ts)) - min(fc.c0) AS delta_us
           FROM ${evSql("e")} JOIN fc ON fc.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fc.c0
           GROUP BY e.user_id),
         b AS (SELECT delta_us // 60000000 AS mn, count(*) AS c,
           sum(CAST(delta_us AS DECIMAL(19,0))) AS sd FROM fp GROUP BY 1),
         w AS (SELECT mn, c, sd,
           sum(c) OVER (ORDER BY mn
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER () AS tot, sum(sd) OVER () AS sdt,
           max(mn) OVER () AS mx FROM b)
         SELECT CAST(max(tot) AS BIGINT) AS n_converted,
           CAST(min(CASE WHEN cum * 2 >= tot THEN mn END) AS BIGINT) AS p50_min,
           CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN mn END) AS BIGINT) AS p90_min,
           CAST(max(mx) AS BIGINT) AS max_min,
           ${r4Sql("CAST(max(sdt) AS DOUBLE) / (CAST(max(tot) AS DOUBLE) * 60000000.0)")} AS mean_min
         FROM w""",
    "join_pit_features" ->
      s"""WITH l AS (SELECT user_id AS uid, epoch_us(ts) AS t_us, 0 AS is_feat,
           event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           CAST(NULL AS BIGINT) AS okey, CAST(NULL AS DECIMAL(14,2)) AS price_d,
           CAST(NULL AS BIGINT) AS ot_us
           FROM ${evSql()} WHERE event_type = 'purchase'),
         f AS (SELECT o_custkey AS uid,
           epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS t_us, 1 AS is_feat,
           CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS VARCHAR) AS ts_s,
           o_orderkey AS okey, CAST(o_totalprice AS DECIMAL(14,2)) AS price_d,
           epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS ot_us FROM orders),
         u AS (SELECT * FROM l UNION ALL SELECT * FROM f),
         w AS (SELECT *,
           last_value(okey IGNORE NULLS) OVER win AS f_okey,
           last_value(price_d IGNORE NULLS) OVER win AS f_price,
           last_value(ot_us IGNORE NULLS) OVER win AS f_t
           FROM u WINDOW win AS (PARTITION BY uid
             ORDER BY t_us, is_feat, okey NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, uid AS user_id, ts_s, f_okey AS o_orderkey,
           round(CAST(f_price AS DOUBLE), 2) AS o_totalprice,
           (t_us - f_t) // 86400000000 AS order_age_days,
           round(CAST(c.bal AS DOUBLE), 2) AS acctbal
         FROM w LEFT JOIN (SELECT c_custkey,
             CAST(c_acctbal AS DECIMAL(14,2)) AS bal FROM customer) c
           ON c.c_custkey = w.uid
         WHERE is_feat = 0 ORDER BY event_id""",
    "events_mix_shift" ->
      s"""WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0,
           max(CAST(ts AS DATE)) AS d1 FROM ${evSql()}),
         md AS (SELECT d0 + CAST(date_diff('day', d0, d1) // 2 AS INTEGER) AS mid
           FROM span),
         c AS (SELECT event_type AS et,
           CASE WHEN CAST(ts AS DATE) <= mid THEN 'A' ELSE 'B' END AS period,
           count(*) AS n
           FROM ${evSql()}, md GROUP BY 1, 2),
         t AS (SELECT et,
           coalesce(sum(CASE WHEN period = 'A' THEN n END), 0) AS na,
           coalesce(sum(CASE WHEN period = 'B' THEN n END), 0) AS nb
           FROM c GROUP BY et),
         w AS (SELECT *, sum(na) OVER () AS ta, sum(nb) OVER () AS tb FROM t),
         e AS (SELECT et, na, nb,
           CAST(na AS DOUBLE) / CAST(ta AS DOUBLE) AS p,
           CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE) AS q FROM w),
         x AS (SELECT *, (p + q) / 2.0 AS m FROM e),
         g AS (SELECT et, na, nb, p, q,
           CAST(${r6Sql("0.5 * CASE WHEN na > 0 THEN p * ln(p / m) ELSE 0.0 END + 0.5 * CASE WHEN nb > 0 THEN q * ln(q / m) ELSE 0.0 END")}
             AS DECIMAL(16,6)) AS contrib FROM x)
         SELECT et, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           ${r6Sql("p")} AS p_first, ${r6Sql("q")} AS q_second,
           CAST(contrib AS DOUBLE) AS jsd_contrib,
           ${r4Sql("CAST(sum(contrib) OVER () AS DOUBLE)")} AS jsd_total
         FROM g ORDER BY et""",
    "events_lag_features" ->
      s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d,
           count(*) AS n_ev, sum(CAST(value AS DECIMAL(10,2))) AS rev_d
           FROM ${evSql()} GROUP BY 1, 2),
         w AS (SELECT *, date_diff('day', DATE '1970-01-01', d) AS di FROM daily),
         f AS (SELECT user_id, d, n_ev, rev_d,
           lag(rev_d) OVER wo AS prev_rev,
           sum(rev_d) OVER wr AS rev_7d,
           sum(n_ev) OVER wr AS n_7d,
           di - lag(di) OVER wo AS dsp
           FROM w WINDOW wo AS (PARTITION BY user_id ORDER BY d),
             wr AS (PARTITION BY user_id ORDER BY di
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT user_id, strftime(d, '%Y-%m-%d') AS day_s, n_ev,
           round(CAST(rev_d AS DOUBLE), 2) AS rev,
           round(CAST(coalesce(prev_rev, 0) AS DOUBLE), 2) AS prev_rev,
           round(CAST(rev_7d AS DOUBLE), 2) AS rev_7d,
           CAST(n_7d AS BIGINT) AS n_7d,
           CAST(coalesce(dsp, -1) AS BIGINT) AS days_since_prev
         FROM f ORDER BY user_id, day_s""",
    "agg_chi2_independence" ->
      s"""WITH cells AS (SELECT o_orderpriority AS p, o_orderstatus AS s,
           count(*) AS n FROM orders GROUP BY 1, 2),
         m AS (SELECT p, s, n,
           sum(n) OVER (PARTITION BY p) AS rt,
           sum(n) OVER (PARTITION BY s) AS ct,
           sum(n) OVER () AS tot FROM cells),
         e AS (SELECT *,
           ${r6Sql("CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tot AS DOUBLE)")} AS exp
           FROM m),
         t AS (SELECT *, CAST(${r6Sql("(CAST(n AS DOUBLE) - exp) * (CAST(n AS DOUBLE) - exp) / exp")}
             AS DECIMAL(16,6)) AS term FROM e)
         SELECT CAST(max(tot) AS BIGINT) AS n,
           count(DISTINCT p) AS n_rows_cat, count(DISTINCT s) AS n_cols_cat,
           (count(DISTINCT p) - 1) * (count(DISTINCT s) - 1) AS dof,
           ${r4Sql("CAST(sum(term) AS DOUBLE)")} AS chi2
         FROM t""",
    "events_conversion_ci" ->
      s"""WITH g AS (SELECT CAST(ts AS DATE) AS d,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS k,
           count(*) AS n
           FROM ${evSql()} WHERE event_type IN ('purchase', 'click')
           GROUP BY 1),
         w AS (SELECT d, k, n,
           CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS ph,
           1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE) AS denom FROM g)
         SELECT strftime(d, '%Y-%m-%d') AS day_s, k, n,
           ${r6Sql("ph")} AS rate,
           ${r6Sql("(ph + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))) / denom - 1.96 * sqrt(ph * (1.0 - ph) / CAST(n AS DOUBLE) + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / denom")} AS lo,
           ${r6Sql("(ph + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))) / denom + 1.96 * sqrt(ph * (1.0 - ph) / CAST(n AS DOUBLE) + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / denom")} AS hi
         FROM w ORDER BY day_s""",
    "events_ab_ttest" ->
      s"""WITH g AS (SELECT event_type, count(*) AS n,
           sum(CAST(value AS DECIMAL(10,2))) AS s,
           sum(CAST(value AS DECIMAL(10,2)) * CAST(value AS DECIMAL(10,2))) AS ss
           FROM ${evSql()} WHERE event_type IN ('purchase', 'click')
           GROUP BY 1),
         o AS (SELECT
           max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
           max(CASE WHEN event_type = 'purchase' THEN s END) AS s1,
           max(CASE WHEN event_type = 'purchase' THEN ss END) AS ss1,
           max(CASE WHEN event_type = 'click' THEN n END) AS n2,
           max(CASE WHEN event_type = 'click' THEN s END) AS s2,
           max(CASE WHEN event_type = 'click' THEN ss END) AS ss2
           FROM g),
         m AS (SELECT n1, n2,
           CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
           CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
           (CAST(ss1 AS DOUBLE) - CAST(n1 AS DOUBLE)
             * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
             / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE) AS va,
           (CAST(ss2 AS DOUBLE) - CAST(n2 AS DOUBLE)
             * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
             / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE) AS vb
           FROM o)
         SELECT n1, n2, ${r4Sql("m1")} AS mean_purchase,
           ${r4Sql("m2")} AS mean_click, ${r4Sql("m1 - m2")} AS mean_diff,
           ${r4Sql("(m1 - m2) / sqrt(va + vb)")} AS t_stat,
           ${r4Sql("(va + vb) * (va + vb) / (va * va / (CAST(n1 AS DOUBLE) - 1.0) + vb * vb / (CAST(n2 AS DOUBLE) - 1.0))")} AS welch_df
         FROM m""",
    "agg_benford_profile" ->
      s"""WITH d AS (SELECT substr(regexp_replace(
             CAST(l_extendedprice AS VARCHAR), '[^1-9]', '', 'g'), 1, 1) AS digit
           FROM lineitem WHERE l_extendedprice > 0),
         g AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
         t AS (SELECT digit, n_obs, sum(n_obs) OVER () AS tot FROM g),
         e AS (SELECT digit, n_obs, tot,
           ${r6Sql("CAST(tot AS DOUBLE) * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))")} AS expected
           FROM t),
         c AS (SELECT *, CAST(${r6Sql("(CAST(n_obs AS DOUBLE) - expected) * (CAST(n_obs AS DOUBLE) - expected) / expected")}
             AS DECIMAL(16,6)) AS term FROM e)
         SELECT digit, n_obs,
           ${r6Sql("CAST(n_obs AS DOUBLE) / CAST(tot AS DOUBLE)")} AS obs_frac,
           ${r4Sql("expected")} AS expected,
           ${r4Sql("CAST(sum(term) OVER () AS DOUBLE)")} AS chi2
         FROM c ORDER BY digit""",
    "agg_weighted_median" ->
      s"""WITH g AS (SELECT l_returnflag AS flag, l_quantity AS qty,
           sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS w, count(*) AS c
           FROM lineitem GROUP BY 1, 2),
         cd AS (SELECT flag, qty,
           sum(w) OVER win AS cw, sum(c) OVER win AS cc,
           sum(w) OVER (PARTITION BY flag) AS tw,
           sum(c) OVER (PARTITION BY flag) AS tc
           FROM g WINDOW win AS (PARTITION BY flag ORDER BY qty
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT flag,
           min(CASE WHEN cw * 2 >= tw THEN qty END) AS wmedian,
           min(CASE WHEN cc * 2 >= tc THEN qty END) AS median,
           CAST(max(tc) AS BIGINT) AS n_rows,
           round(CAST(max(tw) AS DOUBLE), 2) AS total_weight
         FROM cd GROUP BY flag ORDER BY flag""",
    "events_resample_interp" ->
      s"""WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS d,
           sum(CAST(value AS DECIMAL(10,2))) AS v
           FROM ${evSql()} GROUP BY 1, 2),
         span AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
           FROM ${evSql()}),
         spine AS (SELECT et,
           CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
             CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
           FROM (SELECT DISTINCT event_type AS et FROM ${evSql()}), span),
         j AS (SELECT spine.et, spine.d, daily.v,
           date_diff('day', DATE '1970-01-01', spine.d) AS di
           FROM spine LEFT JOIN daily ON daily.et = spine.et AND daily.d = spine.d),
         f AS (SELECT *,
           last_value(CASE WHEN v IS NOT NULL THEN di END IGNORE NULLS) OVER wb AS pd,
           last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER wb AS pv,
           first_value(CASE WHEN v IS NOT NULL THEN di END IGNORE NULLS) OVER wf AS nd,
           first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER wf AS nv
           FROM j WINDOW
             wb AS (PARTITION BY et ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wf AS (PARTITION BY et ORDER BY d
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         SELECT et, strftime(d, '%Y-%m-%d') AS day_s,
           CASE WHEN v IS NOT NULL THEN 'actual'
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
             WHEN pv IS NOT NULL THEN 'ffill'
             WHEN nv IS NOT NULL THEN 'bfill' ELSE 'empty' END AS src,
           ${r6Sql("CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)" +
             " WHEN pv IS NOT NULL AND nv IS NOT NULL THEN CAST(pv AS DOUBLE)" +
             " + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))" +
             " * (CAST(di - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))" +
             " ELSE CAST(coalesce(pv, nv) AS DOUBLE) END")} AS value
         FROM f ORDER BY et, day_s""",
    "events_changepoint" ->
      s"""WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS d,
           count(*) AS y FROM ${evSql()} GROUP BY 1, 2),
         c AS (SELECT et, d, y,
           row_number() OVER wo AS k,
           sum(y) OVER wc AS cs,
           sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) OVER wc AS css,
           count(*) OVER wf AS n,
           sum(y) OVER wf AS ts_,
           sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) OVER wf AS tss
           FROM daily WINDOW
             wo AS (PARTITION BY et ORDER BY d),
             wc AS (PARTITION BY et ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY et)),
         r AS (SELECT et, d, k, cs, n, ts_,
           ${r6Sql("(CAST(tss AS DOUBLE) - CAST(ts_ AS DOUBLE) * CAST(ts_ AS DOUBLE) / CAST(n AS DOUBLE))" +
             " - (CAST(css AS DOUBLE) - CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) / CAST(k AS DOUBLE))" +
             " - ((CAST(tss AS DOUBLE) - CAST(css AS DOUBLE))" +
             " - (CAST(ts_ AS DOUBLE) - CAST(cs AS DOUBLE)) * (CAST(ts_ AS DOUBLE) - CAST(cs AS DOUBLE))" +
             " / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))")} AS red
           FROM c WHERE k < n)
         SELECT et, strftime(d, '%Y-%m-%d') AS split_day_s,
           CAST(k AS BIGINT) AS split_idx,
           ${r4Sql("CAST(cs AS DOUBLE) / CAST(k AS DOUBLE)")} AS left_mean,
           ${r4Sql("(CAST(ts_ AS DOUBLE) - CAST(cs AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))")} AS right_mean,
           red AS sse_reduction
         FROM r
         QUALIFY row_number() OVER (PARTITION BY et ORDER BY red DESC, k) = 1
         ORDER BY et""",
    "window_percent_rank" ->
      s"""WITH g AS (SELECT l_returnflag AS flag, l_quantity AS qty, count(*) AS n
           FROM lineitem GROUP BY 1, 2),
         c AS (SELECT flag, qty, n,
           sum(n) OVER (PARTITION BY flag ORDER BY qty
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(n) OVER (PARTITION BY flag) AS nt FROM g)
         SELECT flag, CAST(qty AS DOUBLE) AS qty, n,
           CAST(cum - n + 1 AS BIGINT) AS rnk,
           CASE WHEN nt > 1
             THEN ${r6Sql("CAST(cum - n AS DOUBLE) / CAST(nt - 1 AS DOUBLE)")}
             ELSE 0.0 END AS pr,
           ${r6Sql("CAST(cum AS DOUBLE) / CAST(nt AS DOUBLE)")} AS cd
         FROM c ORDER BY flag, qty""",
    "events_interarrival_stats" ->
      s"""WITH g AS (
           SELECT user_id, epoch_us(ts) -
             epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS g
           FROM ${evSql()}),
         s AS (
           SELECT user_id, count(*) AS n_gaps, sum(g) AS sum_g,
             max(g) AS max_gap_us,
             CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)))
               AS DOUBLE) AS sumsq
           FROM g WHERE g IS NOT NULL GROUP BY user_id HAVING count(*) >= 2),
         m AS (SELECT user_id, n_gaps, max_gap_us,
           CAST(sum_g AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean,
           sqrt(greatest(sumsq / CAST(n_gaps AS DOUBLE) -
             (CAST(sum_g AS DOUBLE) / CAST(n_gaps AS DOUBLE)) *
             (CAST(sum_g AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0)) AS sd
           FROM s)
         SELECT user_id, n_gaps, ${r4Sql("mean")} AS mean_gap_us, max_gap_us,
           CASE WHEN sd + mean > 0 THEN ${r4Sql("(sd - mean) / (sd + mean)")}
             ELSE 0.0 END AS burstiness
         FROM m ORDER BY user_id""",
    "events_survival_curve" ->
      s"""WITH lt AS (SELECT user_id,
           CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
             AS BIGINT) AS lt_days
           FROM ${evSql()} GROUP BY user_id),
         c AS (SELECT lt_days, count(*) AS n_ending FROM lt GROUP BY lt_days),
         s AS (SELECT lt_days, n_ending,
           sum(n_ending) OVER (ORDER BY lt_days DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_alive,
           sum(n_ending) OVER () AS nt FROM c)
         SELECT lt_days, n_ending, CAST(n_alive AS BIGINT) AS n_alive,
           ${r6Sql("CAST(n_alive AS DOUBLE) / CAST(nt AS DOUBLE)")} AS survival
         FROM s ORDER BY lt_days""",
    "events_gini_pareto" ->
      s"""WITH rev AS (SELECT user_id, sum(CAST(value AS DECIMAL(10,2))) AS rev_d
           FROM ${evSql()} WHERE event_type = 'purchase' GROUP BY user_id),
         r AS (SELECT rev_d, user_id,
           row_number() OVER (ORDER BY rev_d, user_id) AS rn,
           count(*) OVER () AS cnt FROM rev),
         a AS (SELECT max(cnt) AS n_users, CAST(sum(rev_d) AS DOUBLE) AS tot,
           CAST(sum(CAST(rev_d AS DECIMAL(26,2)) * CAST(rn AS DECIMAL(11,0)))
             AS DOUBLE) AS wsum,
           CAST(sum(CASE WHEN rn > cnt - cnt // 10 THEN rev_d END) AS DOUBLE)
             AS top_rev
           FROM r)
         SELECT n_users, round(tot, 2) AS total_rev,
           ${r6Sql("2.0 * wsum / (CAST(n_users AS DOUBLE) * tot) - CAST(n_users + 1 AS DOUBLE) / CAST(n_users AS DOUBLE)")} AS gini,
           ${r6Sql("coalesce(top_rev, 0.0) / tot")} AS top10_share
         FROM a""",
    // the bloom prefilter is result-transparent: the oracle is the plain
    // filtered join (false positives die in the exact join)
    "join_bloom_prefilter" ->
      s"""SELECT o_orderpriority, count(*) AS n_lines,
           count(DISTINCT o_orderkey) AS n_orders,
           ${r4Sql("CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)")} AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 449000.0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "events_cohort_ltv" ->
      s"""WITH f AS (
           SELECT user_id,
             CAST(date_trunc('week', min(CAST(ts AS DATE))) AS DATE) AS cw
           FROM ${evSql()} GROUP BY user_id),
         cs AS (SELECT cw, count(*) AS n_users FROM f GROUP BY cw),
         p AS (
           SELECT e.user_id,
             CAST(date_trunc('week', CAST(e.ts AS DATE)) AS DATE) AS w,
             CAST(e.value AS DECIMAL(10,2)) AS v
           FROM ${evSql("e")} WHERE e.event_type = 'purchase'),
         cells AS (
           SELECT f.cw, date_diff('day', f.cw, p.w) // 7 AS off, sum(p.v) AS rev_d
           FROM p JOIN f USING (user_id) GROUP BY 1, 2),
         c AS (
           SELECT cw, off, rev_d,
             sum(rev_d) OVER (PARTITION BY cw ORDER BY off
               ROWS UNBOUNDED PRECEDING) AS cum_d
           FROM cells)
         SELECT strftime(c.cw, '%Y-%m-%d') AS cohort_week_s, c.off, cs.n_users,
           round(CAST(c.rev_d AS DOUBLE), 2) AS rev,
           round(CAST(c.cum_d AS DOUBLE), 2) AS cum_rev,
           ${r4Sql("CAST(c.cum_d AS DOUBLE) / CAST(cs.n_users AS DOUBLE)")} AS ltv
         FROM c JOIN cs USING (cw)
         ORDER BY cohort_week_s, off""",
    "events_dau_wau" ->
      s"""WITH p AS (
           SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM ${evSql()}),
         dau AS (SELECT d, count(*) AS dau FROM p GROUP BY d),
         wau AS (
           SELECT a.d, count(DISTINCT b.user_id) AS wau
           FROM dau a JOIN p b ON b.d BETWEEN a.d - 6 AND a.d
           GROUP BY a.d)
         SELECT strftime(a.d, '%Y-%m-%d') AS day_s, a.dau, w.wau,
           ${r4Sql("CAST(a.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)")} AS stickiness
         FROM dau a JOIN wau w ON a.d = w.d
         ORDER BY day_s""",
    "agg_session_window" ->
      s"""WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS us FROM ${evSql()}),
         g AS (
           SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (
           SELECT user_id, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS sess_idx
           FROM g),
         per AS (
           SELECT user_id, sess_idx, count(*) AS n_events,
             max(us) - min(us) + 1800000000 AS span_us
           FROM s GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(max(n_events) AS BIGINT) AS max_sess_events,
           CAST(sum(span_us) AS BIGINT) AS total_span_us
         FROM per GROUP BY user_id ORDER BY user_id""",
    "events_cusum_shift" ->
      s"""WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
           FROM ${evSql()} GROUP BY 1, 2),
         st AS (
           SELECT event_type,
             CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
             sqrt((CAST(sum(n * n) AS DOUBLE)
               - CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE)) AS sigma
           FROM daily GROUP BY event_type
           HAVING sigma > 0),
         z AS (
           SELECT d.event_type, d.d,
             CAST(floor((CAST(d.n AS DOUBLE) - st.mu - 0.5 * st.sigma) / st.sigma
               * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(20,6)) AS z
           FROM daily d JOIN st USING (event_type)),
         c1 AS (
           SELECT event_type, d,
             sum(z) OVER (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps
           FROM z),
         c2 AS (
           SELECT event_type, d, ps,
             min(ps) OVER (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_ps
           FROM c1),
         cu AS (
           SELECT event_type, d,
             ps - least(CAST(0 AS DECIMAL(20,6)), min_ps) AS cusum
           FROM c2)
         SELECT event_type,
           count(*) AS n_days,
           ${r4Sql("CAST(max(cusum) AS DOUBLE)")} AS max_cusum,
           CAST(sum(CASE WHEN cusum > 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_days,
           strftime(min(CASE WHEN cusum > 4 THEN d END), '%Y-%m-%d') AS first_alarm_day
         FROM cu GROUP BY event_type ORDER BY event_type""",
    "events_seasonal_baseline" ->
      s"""WITH daily AS (
           SELECT CAST(ts AS DATE) AS d, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS v
           FROM ${evSql()} GROUP BY 1)
         SELECT strftime(a.d, '%Y-%m-%d') AS day_s, a.n, b.n AS base_n,
           a.n - b.n AS delta_n,
           ${r4Sql("CAST(a.n AS DOUBLE) / CAST(b.n AS DOUBLE)")} AS ratio_n,
           round(a.v - b.v, 2) AS delta_v
         FROM daily a JOIN daily b ON a.d = b.d + 7
         ORDER BY day_s""",
    "events_attribution" ->
      s"""WITH w AS (
           SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER win AS click_ts,
             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER win AS click_id
           FROM ${evSql()}
           WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         g AS (
           SELECT *, (epoch_us(ts) - epoch_us(click_ts)) // 1000000 AS gap0
           FROM w WHERE event_type = 'purchase')
         SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           CASE WHEN gap0 <= 86400 THEN click_id END AS attrib_click_id,
           CASE WHEN gap0 <= 86400 THEN gap0 END AS gap_s
         FROM g ORDER BY event_id""",
    "join_bucketed_colocated" ->
      """SELECT o_orderstatus, count(*) AS n_items,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
           * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(6,4))) AS DOUBLE), 4) AS revenue
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "reshape_unpivot" ->
      """WITH w AS (
           SELECT o_orderpriority,
             CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
             CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
           FROM orders GROUP BY o_orderpriority)
         SELECT o_orderpriority, status_metric, n
         FROM w UNPIVOT (n FOR status_metric IN (n_open, n_finished, n_pending))
         ORDER BY o_orderpriority, status_metric""",
    "join_null_safe" ->
      """WITH dim(k, bucket) AS (
           VALUES ('O', 'open'), ('F', 'finished'), (NULL, 'pending_null')),
         o AS (SELECT nullif(o_orderstatus, 'P') AS ok, o_totalprice FROM orders)
         SELECT dim.bucket, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_price
         FROM o JOIN dim ON o.ok IS NOT DISTINCT FROM dim.k
         GROUP BY dim.bucket ORDER BY dim.bucket""",
    "window_lead" ->
      s"""SELECT event_id, user_id,
         lead(event_type, 1) OVER w AS next_type,
         round(lead(value, 1) OVER w - value, 4) AS next_delta,
         epoch_us(lead(ts, 1) OVER w) - epoch_us(ts) AS gap_us
         FROM ${evSql()}
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id""",
    "agg_mode" ->
      s"""WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
           FROM orders GROUP BY 1, 2)
         SELECT o_orderstatus, o_orderpriority AS mode_priority, n,
           ${r4Sql("CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY o_orderstatus) AS DOUBLE)")} AS share
         FROM c
         QUALIFY row_number() OVER (PARTITION BY o_orderstatus ORDER BY n DESC, o_orderpriority) = 1
         ORDER BY o_orderstatus""",
    "events_zscore_outliers" ->
      s"""WITH raw AS (
           SELECT user_id,
             CAST(count(*) AS DOUBLE) AS nd,
             CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS s,
             CAST(sum(CAST(value AS DECIMAL(10,2)) * CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS ss
           FROM events GROUP BY user_id),
         stats AS (
           SELECT user_id, s/nd AS mean, ss/nd - (s/nd)*(s/nd) AS vr FROM raw),
         z AS (
           SELECT e.event_id, e.user_id, e.value,
             CASE WHEN s.vr > 0
               THEN ${r4Sql("(e.value - s.mean) / sqrt(s.vr)")} END AS z
           FROM events e JOIN stats s USING (user_id))
         SELECT event_id, user_id, value, z
         FROM z WHERE abs(z) >= 2.0 ORDER BY event_id""",
    "events_retention" ->
      s"""WITH active AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM ${evSql()}),
         cohort AS (
           SELECT user_id, min(day) AS cohort_day FROM active GROUP BY user_id)
         SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_date,
           CAST(datediff('day', CAST(c.cohort_day AS DATE), CAST(a.day AS DATE)) AS BIGINT) AS day_offset,
           count(*) AS n_users
         FROM active a JOIN cohort c ON a.user_id = c.user_id
         GROUP BY 1, 2
         ORDER BY cohort_date, day_offset""",
    "agg_corr_regression" ->
      s"""WITH s AS (
           SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS nd,
             CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity AS DECIMAL(10,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_quantity AS DECIMAL(10,2)) * CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS syy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(nd AS BIGINT) AS n,
           ${r4Sql("(nd*sxy - sx*sy) / (sqrt(nd*sxx - sx*sx) * sqrt(nd*syy - sy*sy))")} AS corr_qty_price,
           ${r4Sql("(sxy - sx*sy/nd) / nd")} AS covar_pop,
           ${r4Sql("(nd*sxy - sx*sy) / (nd*sxx - sx*sx)")} AS regr_slope
         FROM s ORDER BY l_returnflag""",
    "events_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type, ts FROM ${evSql()}),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e
                JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
         SELECT s1.user_id,
           strftime(s1.t1, '%Y-%m-%d %H:%M:%S.%f') AS t1_s,
           strftime(s2.t2, '%Y-%m-%d %H:%M:%S.%f') AS t2_s,
           strftime(s3.t3, '%Y-%m-%d %H:%M:%S.%f') AS t3_s,
           CAST(1 + (CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  + (CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS depth
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                 LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY s1.user_id""",
    "scan_project_filter" ->
      """SELECT l_orderkey, l_linenumber,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
         l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         ORDER BY l_orderkey, l_linenumber, ship_date, l_quantity,
           l_extendedprice""",
    "join_inner_hash" ->
      """SELECT o_orderstatus, count(*) AS n,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(6,4))) AS DOUBLE), 4) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "join_broadcast_dim" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
         round(CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "join_left_outer" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "join_range_binned" ->
      """WITH e AS (SELECT CAST(f.i AS BIGINT) AS epoch_id,
             DATE '1995-01-01' + CAST(f.i * 45 AS INTEGER) AS e_start,
             DATE '1995-01-01' + CAST(f.i * 45 + 44 AS INTEGER) AS e_end
           FROM (SELECT unnest(range(0, 8)) AS i) f)
         SELECT e.epoch_id, count(*) AS n_orders,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_price
         FROM orders o JOIN e
           ON CAST(o.o_orderdate AS DATE) BETWEEN e.e_start AND e.e_end
         GROUP BY e.epoch_id ORDER BY e.epoch_id""",
    "join_theta_range" ->
      """SELECT p_brand, count(*) AS n,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_qty
         FROM part JOIN lineitem ON p_partkey = l_partkey
           AND l_quantity BETWEEN p_size - 5 AND p_size + 5
         GROUP BY p_brand ORDER BY p_brand""",
    "join_interval_events" ->
      s"""WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
             FROM ${evSql()} WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
             FROM ${evSql()} WHERE event_type = 'purchase')
         SELECT c.click_id, p.purchase_id, c.user_id,
           (p.p_us - c.c_us) // 1000000 AS lag_s
         FROM c JOIN p ON c.user_id = p.user_id
           AND p.p_us >= c.c_us AND p.p_us < c.c_us + 3600000000
         ORDER BY click_id, purchase_id""",
    "join_salted_skew" ->
      s"""SELECT c.c_mktsegment, e.event_type, count(*) AS n,
         min(e.event_id) AS min_event
         FROM ${evSql("e")} JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY c.c_mktsegment, e.event_type
         ORDER BY c.c_mktsegment, e.event_type""",
    "join_full_outer" ->
      s"""WITH u AS (SELECT user_id, count(*) AS n_events FROM ${evSql()} GROUP BY user_id)
         SELECT coalesce(c.c_custkey, u.user_id) AS id,
           CAST(c.c_custkey IS NOT NULL AS BIGINT) AS is_customer,
           coalesce(u.n_events, 0) AS n_events
         FROM customer c FULL JOIN u ON c.c_custkey = u.user_id
         ORDER BY id""",
    "agg_pivot" ->
      """SELECT o_orderstatus,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS "1-URGENT",
         CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS "2-HIGH",
         CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS "3-MEDIUM",
         CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS "4-NOT SPECIFIED",
         CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS "5-LOW"
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_min_max_by" ->
      """WITH c AS (
           SELECT o_orderstatus, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
           FROM orders),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY cents DESC, o_orderkey DESC) AS rn_hi,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY cents ASC, o_orderkey ASC) AS rn_lo
           FROM c)
         SELECT o_orderstatus,
           max(CASE WHEN rn_hi = 1 THEN o_orderkey END) AS priciest_order,
           max(CASE WHEN rn_lo = 1 THEN o_orderkey END) AS cheapest_order,
           count(*) AS n
         FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "join_asof_event_order" ->
      s"""SELECT e.event_id, e.user_id,
         strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
         strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
         FROM ${evSql("e")} ASOF LEFT JOIN orders o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
         ORDER BY e.event_id""",
    "events_sessionize" ->
      s"""WITH e AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS us FROM ${evSql()}),
         g AS (
           SELECT user_id, event_id, value, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (
           SELECT user_id, value, us, new_s,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS sess_idx
           FROM g),
         per AS (
           SELECT user_id, sess_idx, count(*) AS n_events,
             max(us) - min(us) AS dur_us,
             sum(CAST(value AS DECIMAL(10,2))) AS val_d
           FROM s GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(max(n_events) AS BIGINT) AS max_sess_events,
           CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
           round(CAST(sum(val_d) AS DOUBLE), 4) AS sum_value
         FROM per GROUP BY user_id ORDER BY user_id""",
    "events_ewma" ->
      s"""WITH s AS (
           SELECT user_id, list(value ORDER BY ts, event_id) AS vals,
             count(*) AS n, CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sumv
           FROM ${evSql()} GROUP BY user_id)
         SELECT user_id, CAST(n AS BIGINT) AS n_events,
           ${r6Sql("list_reduce(vals, (acc, x) -> " + r6Sql("acc * 0.75 + x * 0.25") + ")")} AS ewma_last,
           ${r6Sql("sumv / CAST(n AS DOUBLE)")} AS mean_value
         FROM s ORDER BY user_id""",
    "events_holt_forecast" ->
      s"""WITH $holtDailySql,
         f AS (
           SELECT CAST(len(vals) AS BIGINT) AS n_days,
             ${holtFoldSql(0)} AS st
           FROM s WHERE len(vals) >= 2)
         SELECT CAST(h AS BIGINT) AS h, n_days,
           ${r6Sql("st[1]")} AS level,
           ${r6Sql("st[2]")} AS trend,
           ${r4Sql("st[1] + CAST(h AS DOUBLE) * st[2]")} AS yhat
         FROM f, range(1, 8) t(h) ORDER BY h""",
    "events_forecast_backtest" ->
      s"""WITH $holtDailySql,
         f AS (
           SELECT days, vals, len(vals) AS n,
             ${holtFoldSql(7)} AS st
           FROM s WHERE len(vals) >= 10),
         o AS (
           SELECT CAST(h AS BIGINT) AS h,
             days[CAST(n - 7 + h AS INT)] AS day,
             vals[CAST(n - 7 + h AS INT)] AS actual,
             ${r4Sql("st[1] + CAST(h AS DOUBLE) * st[2]")} AS yhat
           FROM f, range(1, 8) t(h))
         SELECT h, day, actual, yhat,
           ${r4Sql("abs(actual - yhat)")} AS abs_err
         FROM o ORDER BY h""",
    "events_mad_outliers" ->
      """WITH med AS (
           SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY event_type),
         dev AS (
           SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
           FROM events e JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type, quantile_cont(adev, 0.5) AS mad
           FROM dev GROUP BY event_type)
         SELECT d.event_type, count(*) AS n,
           floor(min(d.med) * 10000.0 + 0.5) / 10000.0 AS med,
           floor(min(a.mad) * 10000.0 + 0.5) / 10000.0 AS mad,
           CAST(sum(CASE WHEN d.adev > 3.0 * 1.4826 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
         FROM dev d JOIN mad a USING (event_type)
         GROUP BY d.event_type ORDER BY d.event_type""",
    "events_path_trigrams" ->
      s"""WITH t AS (
           SELECT user_id, event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
           FROM ${evSql()}
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT t1, t2, t3, count(*) AS n, count(DISTINCT user_id) AS n_users
         FROM t WHERE t3 IS NOT NULL
         GROUP BY t1, t2, t3
         ORDER BY n DESC, t1, t2, t3 LIMIT 10""",
    "join_asof_forward" ->
      s"""SELECT c.event_id, c.user_id,
         strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
         strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
         epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
         FROM (SELECT * FROM ${evSql()} WHERE event_type = 'click') c
         ASOF LEFT JOIN
           (SELECT * FROM ${evSql()} WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND c.ts <= p.ts
         ORDER BY c.event_id""",
    "join_topk_revenue" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
           * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(6,4))) AS DOUBLE), 4) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "join_star_schema" ->
      """SELECT n_name,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
           * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(6,4))) AS DOUBLE), 4) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY n_name ORDER BY n_name""",
    "join_asof_nearest" ->
      s"""WITH u AS (
           SELECT user_id AS uid, epoch_us(ts) AS t_us, 1 AS is_c, event_id,
                  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
                  CAST(NULL AS BIGINT) AS p_us
           FROM ${evSql()} WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, epoch_us(ts), 0, NULL, NULL, epoch_us(ts)
           FROM ${evSql()} WHERE event_type = 'purchase'),
         w AS (
           SELECT *,
             max(p_us) OVER (PARTITION BY uid ORDER BY t_us, is_c, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_us,
             min(p_us) OVER (PARTITION BY uid ORDER BY t_us, is_c, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f_us
           FROM u)
         SELECT event_id, uid AS user_id, ts_s,
           CASE WHEN b_us IS NOT NULL
                     AND (f_us IS NULL OR t_us - b_us <= f_us - t_us)
                THEN 'backward'
                WHEN f_us IS NOT NULL THEN 'forward' END AS dir,
           CASE WHEN b_us IS NOT NULL
                     AND (f_us IS NULL OR t_us - b_us <= f_us - t_us)
                THEN t_us - b_us
                WHEN f_us IS NOT NULL THEN f_us - t_us END AS gap_us
         FROM w WHERE is_c = 1 ORDER BY event_id""",
    "events_user_entropy" ->
      s"""WITH c AS (
           SELECT user_id, event_type, count(*) AS k
           FROM ${evSql()} GROUP BY 1, 2)
         SELECT user_id, CAST(sum(k) AS BIGINT) AS n, count(*) AS n_types,
           floor((log2(CAST(sum(k) AS DOUBLE))
             - CAST(sum(CAST(floor((CAST(k AS DOUBLE) * log2(CAST(k AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(sum(k) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS type_entropy
         FROM c GROUP BY user_id ORDER BY user_id""",
    "agg_mom_growth" ->
      """WITH m AS (
           SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m') AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS rev,
             count(*) AS n
           FROM orders GROUP BY 1),
         w AS (SELECT *, lag(rev) OVER (ORDER BY month) AS prev FROM m)
         SELECT month, round(rev, 4) AS revenue, n,
           round(rev - prev, 4) AS delta,
           floor(((rev - prev) / prev) * 10000.0 + 0.5) / 10000.0 AS growth
         FROM w ORDER BY month""",
    "events_rfm" ->
      s"""WITH p AS (
           SELECT user_id, epoch_us(ts) AS us, value
           FROM ${evSql()} WHERE event_type = 'purchase'),
         a AS (SELECT max(us) AS max_us FROM p),
         u AS (
           SELECT user_id, (a.max_us - max(us)) // 86400000000 AS r_days,
             count(*) AS f,
             CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS m
           FROM p, a GROUP BY user_id, a.max_us),
         b AS (
           SELECT
             list_transform(quantile_cont(r_days, [0.2, 0.4, 0.6, 0.8]),
               x -> floor(x * 1000000.0 + 0.5) / 1000000.0) AS rb,
             list_transform(quantile_cont(f, [0.2, 0.4, 0.6, 0.8]),
               x -> floor(x * 1000000.0 + 0.5) / 1000000.0) AS fb,
             list_transform(quantile_cont(m, [0.2, 0.4, 0.6, 0.8]),
               x -> floor(x * 1000000.0 + 0.5) / 1000000.0) AS mb
           FROM u)
         SELECT u.user_id, u.r_days, u.f, round(u.m, 4) AS m,
           CAST(1 + len(list_filter(b.rb, x -> CAST(u.r_days AS DOUBLE) > x)) AS BIGINT) AS r_score,
           CAST(1 + len(list_filter(b.fb, x -> CAST(u.f AS DOUBLE) > x)) AS BIGINT) AS f_score,
           CAST(1 + len(list_filter(b.mb, x -> u.m > x)) AS BIGINT) AS m_score,
           CAST(1 + len(list_filter(b.rb, x -> CAST(u.r_days AS DOUBLE) > x)) AS VARCHAR)
             || CAST(1 + len(list_filter(b.fb, x -> CAST(u.f AS DOUBLE) > x)) AS VARCHAR)
             || CAST(1 + len(list_filter(b.mb, x -> u.m > x)) AS VARCHAR) AS rfm
         FROM u, b ORDER BY u.user_id""",
    "events_unconverted_clicks" ->
      s"""WITH c AS (
           SELECT user_id, epoch_us(ts) AS c_us, CAST(ts AS DATE) AS day
           FROM ${evSql()} WHERE event_type = 'click'),
         p AS (
           SELECT user_id, epoch_us(ts) AS p_us
           FROM ${evSql()} WHERE event_type = 'purchase'),
         u AS (
           SELECT day, count(*) AS n_unconverted FROM c
           WHERE NOT EXISTS (
             SELECT 1 FROM p WHERE p.user_id = c.user_id
               AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 3600000000)
           GROUP BY day),
         t AS (SELECT day, count(*) AS n_clicks FROM c GROUP BY day)
         SELECT strftime(t.day, '%Y-%m-%d') AS day, t.n_clicks,
           CAST(coalesce(u.n_unconverted, 0) AS BIGINT) AS n_unconverted,
           floor((CAST(coalesce(u.n_unconverted, 0) AS DOUBLE)
             / CAST(t.n_clicks AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS drop_rate
         FROM t LEFT JOIN u ON t.day = u.day ORDER BY day""",
    "events_peak_concurrency" ->
      s"""WITH s AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_s
           FROM ${evSql()}
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
           FROM s),
         sess AS (
           SELECT user_id, sid, min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
           FROM g GROUP BY 1, 2),
         pts AS (
           SELECT CAST(make_timestamp(s_us) AS DATE) AS day, s_us AS t, 1 AS delta
           FROM sess
           UNION ALL
           SELECT CAST(make_timestamp(s_us) AS DATE) AS day, e_us + 1 AS t, -1 AS delta
           FROM sess),
         c AS (
           SELECT day, delta, sum(delta) OVER (PARTITION BY day
             ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS cur
           FROM pts)
         SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(max(cur) AS BIGINT) AS peak
         FROM c GROUP BY day ORDER BY day""",
    "events_streaks" ->
      s"""WITH x AS (
           SELECT user_id, event_id, event_type, ts,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
           FROM ${evSql()}
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (
           SELECT *, sum(chg) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS grp
           FROM x),
         runs AS (
           SELECT user_id, grp, event_type, count(*) AS len
           FROM g GROUP BY 1, 2, 3),
         best AS (
           SELECT user_id, len, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY len DESC, event_type DESC) AS rk
           FROM runs)
         SELECT r.user_id, r.n_runs, CAST(b.len AS BIGINT) AS max_len,
           b.event_type AS top_type
         FROM (SELECT user_id, count(*) AS n_runs FROM runs GROUP BY 1) r
         JOIN best b ON r.user_id = b.user_id AND b.rk = 1
         ORDER BY r.user_id""",
    "events_sequence_match" ->
      s"""WITH p AS (
           SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
               ORDER BY ts, event_id) AS path
           FROM ${evSql()} GROUP BY user_id)
         SELECT user_id, CAST(length(path) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(path, 'cv*p')) AS BIGINT) AS n_conversions,
           contains(path, 'e') AS saw_error,
           substr(path, 1, 20) AS path_head
         FROM p ORDER BY user_id""",
    "events_markov" ->
      s"""WITH t AS (
           SELECT event_type AS from_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM ${evSql()}),
         c AS (
           SELECT from_type, to_type, count(*) AS n
           FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT from_type, sum(n) AS n_from FROM c GROUP BY 1)
         SELECT c.from_type, c.to_type, c.n, CAST(tot.n_from AS BIGINT) AS n_from,
           floor((CAST(c.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE)) * 10000.0
             + 0.5) / 10000.0 AS p
         FROM c JOIN tot USING (from_type)
         ORDER BY from_type, to_type""",
    "join_asof_tolerance" ->
      s"""SELECT e.event_id, e.user_id,
         CASE WHEN o.o_orderdate IS NOT NULL
                   AND epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) <= 2592000000000
              THEN strftime(o.o_orderdate, '%Y-%m-%d') END AS order_date,
         CASE WHEN o.o_orderdate IS NOT NULL
                   AND epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) <= 2592000000000
              THEN (epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))) // 86400000000 END AS gap_days
         FROM ${evSql("e")} ASOF LEFT JOIN orders o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
         ORDER BY e.event_id""",
    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_qty,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_base_price,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(6,4))) AS DOUBLE), 4) AS sum_disc_price,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(6,4)) * CAST(1 + CAST(l_tax AS DECIMAL(8,4)) AS DECIMAL(6,4))) AS DOUBLE), 4) AS sum_charge,
         floor((CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
         floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
         floor((CAST(sum(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "agg_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
         coalesce(o_orderpriority, 'ALL') AS priority,
         CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
         count(*) AS n,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_price
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY gid, status, priority""",
    "agg_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
         coalesce(o_orderpriority, 'ALL') AS priority,
         CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
         count(*) AS n,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY gid, status, priority""",
    "events_resample_ffill" ->
      s"""WITH e AS (
           SELECT user_id, ts, arg_max(value, event_id) AS value
           FROM ${evSql()} GROUP BY user_id, ts),
         b AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1
               FROM e GROUP BY user_id),
         g AS (SELECT user_id,
                 unnest(generate_series(date_trunc('day', t0), date_trunc('day', t1),
                   INTERVAL 1 DAY)) AS t
               FROM b),
         u AS (SELECT user_id, ts AS t, 0 AS mk, value FROM e
               UNION ALL SELECT user_id, t, 1, NULL FROM g),
         f AS (SELECT user_id, t, mk,
             last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, mk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
             count(value) OVER (PARTITION BY user_id ORDER BY t, mk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_seen
           FROM u)
         SELECT user_id, strftime(t, '%Y-%m-%d') AS grid_date, v,
           CAST(n_seen AS BIGINT) AS n_seen
         FROM f WHERE mk = 1 ORDER BY user_id, grid_date""",
    "agg_filtered_bool" ->
      """SELECT o_orderstatus,
         count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
         bool_and(o_totalprice > 1000) AS all_over_1k,
         bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
         round(CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
           THEN o_totalprice ELSE 0.0 END AS DECIMAL(14,2))) AS DOUBLE), 4) AS urgent_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_collect_sorted" ->
      """SELECT o_orderstatus,
         array_to_string(list_sort(list_distinct(array_agg(o_orderpriority))), ',') AS prios,
         count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_percentiles" ->
      """SELECT l_returnflag,
         floor((quantile_cont(l_quantity, 0.5)) * 10000.0 + 0.5) / 10000.0 AS qty_p50,
         floor((quantile_cont(l_quantity, 0.9)) * 10000.0 + 0.5) / 10000.0 AS qty_p90,
         floor((quantile_cont(l_extendedprice, 0.5)) * 10000.0 + 0.5) / 10000.0 AS price_p50,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // Tolerance oracles for the two sketch aggregates: the oracle computes
    // the exact values and expects every Spark-computed within-bound flag
    // to be TRUE; a sketch landing outside its error contract flips the
    // flag and fails the driver's hash compare.
    "agg_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
         count(*) AS n, TRUE AS within_bound
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_sketch_union" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
         count(DISTINCT CAST(ts AS DATE)) AS n_days, TRUE AS within_bound
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_share_of_total" ->
      """WITH g AS (
           SELECT o_orderstatus,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS rev,
             count(*) AS n
           FROM orders GROUP BY o_orderstatus),
         t AS (SELECT CAST(sum(CAST(rev AS DECIMAL(14,2))) AS DOUBLE) AS tot FROM g)
         SELECT o_orderstatus, round(rev, 4) AS revenue, n,
           floor((rev / tot) * 10000.0 + 0.5) / 10000.0 AS share
         FROM g, t ORDER BY o_orderstatus""",
    "agg_multi_distinct" ->
      """SELECT o_orderstatus,
         count(DISTINCT o_custkey) AS n_cust,
         count(DISTINCT o_orderpriority) AS n_prio,
         count(DISTINCT CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)) AS n_years,
         count(*) AS n,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_percentile_approx" ->
      """SELECT l_returnflag,
         floor((quantile_cont(l_quantity, 0.5)) * 10000.0 + 0.5) / 10000.0 AS qty_p50,
         floor((quantile_cont(l_quantity, 0.9)) * 10000.0 + 0.5) / 10000.0 AS qty_p90,
         floor((quantile_cont(l_extendedprice, 0.5)) * 10000.0 + 0.5) / 10000.0 AS price_p50,
         count(*) AS n,
         TRUE AS qty_p50_ok, TRUE AS qty_p90_ok, TRUE AS price_p50_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_stats_moments" ->
      """WITH s AS (
           SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS nd,
             CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(10,2)) * CAST(l_quantity AS DECIMAL(10,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(10,2)) * CAST(l_extendedprice AS DECIMAL(14,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(nd AS BIGINT) AS n,
           floor((sx / nd) * 10000.0 + 0.5) / 10000.0 AS mean_qty,
           floor((sqrt((sxx - sx * sx / nd) / (nd - 1.0))) * 10000.0 + 0.5) / 10000.0 AS stddev_qty,
           floor(((sxy - sx * sy / nd)
             / (sqrt(sxx - sx * sx / nd) * sqrt(syy - sy * sy / nd))) * 10000.0 + 0.5) / 10000.0 AS corr_qty_price
         FROM s ORDER BY l_returnflag""",
    "window_ntile_dist" ->
      """SELECT o_orderkey, o_orderstatus,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         floor((percent_rank() OVER w) * 10000.0 + 0.5) / 10000.0 AS pct_rank,
         floor((cume_dist() OVER w) * 10000.0 + 0.5) / 10000.0 AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
         ORDER BY o_orderkey""",
    "window_rank_topn" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(rank() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
           FROM orders) WHERE rk <= 3
         ORDER BY o_custkey, rk, o_orderkey""",
    "window_topk_custom" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3
         ORDER BY o_custkey, o_totalprice DESC, o_orderkey""",
    "window_running_sum" ->
      s"""SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
         round(CAST(sum(CAST(value AS DECIMAL(10,2))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS running
         FROM ${evSql()} ORDER BY event_id""",
    "window_hampel_filter" ->
      s"""WITH e AS (SELECT event_id, user_id, ts,
           CAST(round(value * 100) AS BIGINT) AS cents FROM ${evSql()}),
         w AS (SELECT event_id, user_id, cents,
           list_sort(list(cents) OVER win) AS arr
           FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         m AS (SELECT *, CAST(len(arr) AS BIGINT) AS nw,
           arr[CAST((len(arr) - 1) // 2 + 1 AS INTEGER)] AS med FROM w),
         d AS (SELECT *,
           list_sort(list_transform(arr, v -> abs(v - med)))
             [CAST((nw - 1) // 2 + 1 AS INTEGER)] AS mad FROM m)
         SELECT event_id, user_id, nw AS n_win,
           ${r6Sql("CAST(med AS DOUBLE) / 100.0")} AS med,
           ${r6Sql("CAST(mad AS DOUBLE) / 100.0")} AS mad,
           abs(cents - med) > 3 * mad AS is_outlier,
           ${r6Sql("CAST(CASE WHEN abs(cents - med) > 3 * mad THEN med ELSE cents END AS DOUBLE) / 100.0")}
             AS repaired
         FROM d ORDER BY event_id""",
    "window_rolling_median" ->
      s"""SELECT event_id, user_id,
         ${r6Sql("quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) OVER w / 100.0")} AS med_10,
         ${r6Sql("quantile_cont(CAST(round(value * 100) AS BIGINT), 0.25) OVER w / 100.0")} AS p25_10,
         ${r6Sql("quantile_cont(CAST(round(value * 100) AS BIGINT), 0.75) OVER w / 100.0")} AS p75_10
         FROM ${evSql()}
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "window_rolling_slope" ->
      s"""WITH b AS (
           SELECT user_id, event_id, ts, CAST(value AS DECIMAL(10,2)) AS yv,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS BIGINT) AS rn
           FROM ${evSql()}),
         s AS (
           SELECT user_id, event_id, rn,
             CAST(count(*) OVER t AS BIGINT) AS n,
             CAST(sum(rn) OVER t AS BIGINT) AS sx,
             CAST(sum(yv) OVER t AS DOUBLE) AS sy,
             CAST(sum(CAST(yv * rn AS DECIMAL(20,2))) OVER t AS DOUBLE) AS sxy,
             CAST(sum(rn * rn) OVER t AS BIGINT) AS sxx
           FROM b
           WINDOW t AS (PARTITION BY user_id ORDER BY rn
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, rn, n,
           CASE WHEN n >= 2 THEN
             ${r6Sql("(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")}
           END AS slope
         FROM s ORDER BY user_id, rn""",
    "window_range_trailing" ->
      s"""SELECT event_id, user_id,
         round(CAST(sum(CAST(value AS DECIMAL(10,2))) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS trailing_1h
         FROM ${evSql()} ORDER BY event_id""",
    "window_lag_delta" ->
      s"""SELECT event_id, user_id,
         round(value - lag(value, 1) OVER (
           PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta
         FROM ${evSql()} ORDER BY event_id""",
    "window_first_last" ->
      s"""SELECT event_id, user_id,
         first_value(value) OVER w AS first_v,
         last_value(value) OVER w AS last_v,
         nth_value(value, 2) OVER w AS second_v
         FROM ${evSql()}
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY event_id""",
    "agg_histogram" ->
      """SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS bucket,
         count(*) AS n,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_qty
         FROM lineitem GROUP BY bucket ORDER BY bucket""",
    "sort_null_order" ->
      s"""SELECT event_id, user_id,
         round(value - lag(value, 1) OVER (
           PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta
         FROM ${evSql()} ORDER BY delta ASC NULLS LAST, event_id""",
    "sort_multikey_limit" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
         LIMIT 100""",
    "set_intersect_all" ->
      s"""WITH a AS (SELECT user_id AS k FROM ${evSql()}
           WHERE event_type IN ('view', 'click')),
         b AS (SELECT user_id AS k FROM ${evSql()}
           WHERE event_type IN ('click', 'purchase')),
         ia AS (SELECT k, count(*) AS m FROM
           (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k),
         ea AS (SELECT k, count(*) AS m FROM
           (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k),
         u AS (
           SELECT 'intersect_all' AS op, k, m FROM ia
           UNION ALL SELECT 'except_all' AS op, k, m FROM ea)
         SELECT op, count(*) AS n_keys, CAST(sum(m) AS BIGINT) AS n_rows,
           CAST(max(m) AS BIGINT) AS max_mult, min(k) AS min_key
         FROM u GROUP BY op ORDER BY op""",
    "sort_offset_page" ->
      """SELECT o_custkey,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 4) AS revenue
         FROM orders GROUP BY o_custkey
         ORDER BY revenue DESC, o_custkey LIMIT 10 OFFSET 20""",
    "set_union_except" ->
      """WITH a AS (SELECT o_custkey AS k FROM orders),
         b AS (SELECT user_id AS k FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id AS k FROM events WHERE event_type = 'error'),
         d AS (SELECT k FROM a UNION SELECT k FROM b),
         e AS (SELECT k FROM d EXCEPT SELECT k FROM c),
         f AS (SELECT k FROM b INTERSECT SELECT k FROM c)
         SELECT k FROM (SELECT k FROM e UNION SELECT k FROM f) ORDER BY k""")
}
