package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Util._

/** The reference pipeline's dataflow semantics re-expressed as declarative
  * Spark operators (reference: `src/bak_unload.ps1`, the entire executable
  * surface of civic-health-innovation-labs/mric-bak-etl).
  *
  * Each query keeps the reference's semantic while being shuffle-parallel:
  * no driver-side loops, no collect; top-1 compiles to TakeOrderedAndProject,
  * the seen-set check to a (broadcastable) left-anti join.
  */
object PipelineOps {

  /** Latest snapshot selection — ref `src/bak_unload.ps1:43-52`
    * (`Sort-Object -Descending` + take-first). The reference picks the
    * lexicographically-greatest blob name; here the greatest (ts, event_id)
    * of `events`. Physical plan: TakeOrderedAndProject — no full sort,
    * per-partition top-1 then merge, which is exactly how this survives
    * 100 TB (no global shuffle, one tiny reduce). */
  def latestSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
    e.orderBy(desc("ts"), desc("event_id"))
      .limit(1)
      .select(
        col("event_id"),
        tsS(col("ts")).as("ts_s"),
        col("user_id"),
        col("event_type"),
        round(col("value"), 4).as("value_r"))
  }

  /** Substring-predicate filter — ref `src/bak_unload.ps1:31`
    * (`$file.Contains(".zip")`; NB the comment says `.bak`, the code filters
    * `.zip` — the code's semantic is the one preserved). Pushed to the
    * parquet scan by Catalyst as a StringContains filter. */
  def filterContains(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter(col("text").contains("join"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** Parse/project — ref `src/bak_unload.ps1:28-36` (`split(";")[0]` +
    * 6-char prefix strip). Same shape over `events.props`: positional
    * split, fixed-offset substring, and a structured json extraction
    * (the engine's upgrade over positional parsing). */
  def parseProject(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(
        col("event_id"),
        element_at(split(col("props"), " "), 1).as("first_tok"),
        substring(col("props"), 7, 5).as("sub7_5"),
        get_json_object(col("props"), "$.k").as("k_str"))
      .orderBy("event_id")

  /** Incremental anti-check (seen-set) — ref `src/bak_unload.ps1:57-66`:
    * skip work at-or-before the committed state mark. State = per-user max
    * ts of `purchase` events; result = events strictly after the user's
    * mark (users with no mark keep all events). left_anti with an equi key
    * plus range residual: the state side is tiny (one row per user) and
    * broadcastable, so at 100 TB the big side never shuffles. */
  def incrementalAnti(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
    val state = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("s_uid"))
      .agg(max("ts").as("s_last_ts"))
    e.join(
        broadcast(state),
        e("user_id") === state("s_uid") && e("ts") <= state("s_last_ts"),
        "left_anti")
      .select(col("event_id"), col("user_id"), col("event_type"),
        tsS(col("ts")).as("ts_s"))
      .orderBy("event_id")
  }

  /** Write-once date-partitioned scratch layout of `events`, shared by
    * the static ([[partitionPrune]]) and dynamic ([[joinPruneDynamic]])
    * pruning queries, read back with the schema it was written with. */
  private def pruneLayout(spark: SparkSession, dir: String): DataFrame = {
    val (out, schema) =
      CorpusScope.persisted("pruneScratch", spark, dir, "events") { a =>
        val out = a.path("d")
        out -> graft.sources.TableSinks.writeDatePartitioned(
          table(spark, dir, "events"), "ts", out, Seq("event_id"))
      }
    graft.sources.TableSinks.readDatePartitioned(spark, out, schema)
  }

  /** Partition-pruned scan, end to end: round-trip `events` through
    * [[graft.sources.TableSinks.writeDatePartitioned]] into a temp scratch
    * layout (`p_date=YYYY-MM-DD/` directories), read back with a day
    * filter, aggregate. The day filter prunes whole directories BEFORE any
    * IO — `PartitionFilters` in the scan, asserted in PlanSpec — which at
    * 100 TB is the difference between reading one day and one month. The
    * write is part of the query on purpose: layout is an operator, and its
    * cost is honest in the bench. The scratch layout is a
    * [[CorpusScope.persisted]] artifact keyed on the content of `events`,
    * so an input rewritten in place gets a new layout, never a stale one. */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame = {
    pruneLayout(spark, dir)
      .filter(col("p_date") === lit("2024-01-15"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsumR(col("value"), Qty).as("sum_value"))
      .orderBy("event_type")
  }

  /** DYNAMIC partition pruning — the runtime complement of
    * [[partitionPrune]]'s static day filter, and the feature that decides
    * whether a partitioned-fact join reads 7 directories or 100 000 at
    * 100 TB: the qualifying dates are NOT a literal in the query, they
    * come out of a dim-side computation (distinct signup dates in the
    * first week of each month), so static pruning can't apply. Catalyst's
    * DPP injects the broadcast dim's date set into the fact scan's
    * PartitionFilters as a `dynamicpruningexpression` (PlanSpec-asserted)
    * — the fact side never reads a non-qualifying directory, and the dim
    * broadcast is reused for both the pruning filter and the join. */
  def joinPruneDynamic(spark: SparkSession, dir: String): DataFrame = {
    val fact = pruneLayout(spark, dir)
    val dim = table(spark, dir, "events")
      .filter(col("event_type") === "signup")
      .select(to_date(col("ts")).as("p_date")).distinct()
      .filter(dayofmonth(col("p_date")) <= 7)
    fact.join(broadcast(dim), "p_date")
      .groupBy(col("p_date"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsumR(col("value"), Qty).as("sum_value"))
      .select(dateS(col("p_date")).as("p_date"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("p_date", "event_type")
  }

  /** Deterministic, reproducible sampling — the pipeline op an LLM data
    * run needs where rand()-based TABLESAMPLE can't serve: membership is
    * a pure function of the key (first md5 hex digit = '0' → a stable
    * 1/16 sample), so the sample is identical across engines, retries,
    * and partitionings, and downstream joins against the sample stay
    * consistent. Pure per-row predicate evaluated map-side in the scan
    * stage (an md5 expression can't push into parquet row-group filters,
    * but it never shuffles and reads no extra columns). */
  def sampleHash(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .filter(substring(md5(col("event_id").cast("string").cast("binary")), 1, 1) === "0")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy("event_type")

  /** Token budget for [[tokenBudgetSample]]: absolute, as real training
    * budgets are — the kept fraction shrinks as the corpus grows. */
  private[graft] val TokenBudget = 5000L

  /** Token-budget corpus sampling — "take documents until N tokens", the
    * final step of assembling a fixed-size training mix from an
    * arbitrarily large corpus. Selection is HASH-PRIORITY: docs are
    * ordered by md5(doc_id) and the prefix up to the budget is kept, so
    * the sample is uniform-random yet fully deterministic (same mix on
    * every engine, retry, and partitioning — rand() or TABLESAMPLE give
    * none of that) and monotone: raising the budget only ADDS documents.
    * The global running sum uses the two-level pattern ([[Text]] vocab
    * ranks, `stream_late_filter`): the hash's first hex digit is a
    * RANGE prefix, so per-bucket cumulative sums ordered within each of
    * the 16 buckets plus a 16-row bucket-offset prefix (the only
    * unpartitioned window, over the bucket aggregate) compose the exact
    * global order — no single corpus-sized sort task exists at any
    * scale. */
  def tokenBudgetSample(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetKept(spark, dir, TokenBudget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_toks"),
        min(col("doc_id")).as("min_doc"))
      .orderBy("source")

  /** The kept document set for an arbitrary budget — the monotonicity
    * property (budget ↑ ⇒ kept set ⊇) is spec-tested over this. */
  private[graft] def tokenBudgetKept(
      spark: SparkSession, dir: String, budget: Long): DataFrame = {
    val d = table(spark, dir, "documents").select(
      col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      md5(col("doc_id").cast("string").cast("binary")).as("pr"))
      .withColumn("bkt", substring(col("pr"), 1, 1))
    val wIn = Window.partitionBy("bkt").orderBy(col("pr"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = d.groupBy("bkt").agg(sum(col("n_tok")).as("tot"))
      .withColumn("off", coalesce(
        sum(col("tot")).over(Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    d.withColumn("cum_in", sum(col("n_tok")).over(wIn))
      .join(offs, "bkt")
      .filter(col("off") + col("cum_in") <= budget)
  }

  /** Deterministic per-group reservoir: the k=5 hash-smallest documents
    * per source — what "give me a reproducible sample of each stratum"
    * actually needs (a rand() reservoir differs per run and engine; the
    * md5 order is a fixed uniform permutation, so the k smallest hashes
    * ARE a uniform k-sample, stable across engines, retries, and
    * repartitioning). Served by the custom [[graft.plans.TopK]] operator
    * stack — logical node → strategy → heap exec: O(groups·k) state,
    * one shuffle, no ranking window sort. The oracle replays the same
    * selection with QUALIFY row_number. */
  def sampleTopkHash(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.TopK
    val d = table(spark, dir, "documents").select(
      col("source"), col("doc_id"),
      md5(col("doc_id").cast("string").cast("binary")).as("pr"),
      col("n_chars"))
    TopK.topKPerKey(d, Seq("source"), Seq(TopK.Ord("pr"), TopK.Ord("doc_id")), 5)
      .select(col("source"), col("pr"), col("doc_id"), col("n_chars"))
      .orderBy("source", "pr", "doc_id")
  }

  /** Stratified deterministic sampling — training-mix construction: each
    * source stratum keeps a different fraction (75/50/25% by suffix mod 3)
    * of its documents, membership decided by comparing a fixed md5-prefix
    * of the row key against the stratum's hex threshold. Like
    * [[sampleHash]], reproducible across engines, retries, and partitions
    * (no rand()); per-row projection + one hash agg, so the sample
    * decision never shuffles the corpus. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    // try_cast mirrors the oracle's TRY_CAST: a non-numeric source suffix
    // yields NULL (falling into the ELSE stratum) on BOTH engines, where a
    // plain ANSI cast would crash only the Spark side
    val m3 = expr("try_cast(substring(source, 4, 10) AS int)") % 3
    val thr = when(m3 === 0, "c0").when(m3 === 1, "80").otherwise("40")
    val keep = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < thr
    table(spark, dir, "documents")
      .withColumn("keep", keep)
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("keep"), col("doc_id"))).as("min_kept"))
      .orderBy("source")
  }

  /** Column profiling — the data-quality pass a pipeline runs before
    * trusting a new snapshot: per column, row/null/distinct counts and
    * min/max. ONE scan: the multi-column distinct counts plan through
    * Expand (input ×k before the agg — the documented cost of k exact
    * distincts; at 100 TB swap in approx_count_distinct per column to
    * make this a plain single-pass partial agg), then the single stats
    * row explodes into one row per column. min/max stringify through
    * DECIMAL for the money column so both engines format identically
    * (raw DOUBLE→VARCHAR differs between engines). */
  def profileColumns(spark: SparkSession, dir: String): DataFrame = {
    def decS(c: Column) = c.cast(DecimalType(14, 2)).cast("string")
    val a = table(spark, dir, "orders").agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("null_st"),
      countDistinct(col("o_orderstatus")).as("nd_st"),
      min(col("o_orderstatus")).as("min_st"),
      max(col("o_orderstatus")).as("max_st"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_ck"),
      countDistinct(col("o_custkey")).as("nd_ck"),
      min(col("o_custkey")).cast("string").as("min_ck"),
      max(col("o_custkey")).cast("string").as("max_ck"),
      sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("null_tp"),
      countDistinct(col("o_totalprice")).as("nd_tp"),
      decS(min(col("o_totalprice"))).as("min_tp"),
      decS(max(col("o_totalprice"))).as("max_tp"))
    a.select(explode(array(
        struct(lit("o_custkey").as("col_name"), col("n"),
          col("null_ck").as("n_null"), col("nd_ck").as("n_distinct"),
          col("min_ck").as("min_s"), col("max_ck").as("max_s")),
        struct(lit("o_orderstatus").as("col_name"), col("n"),
          col("null_st").as("n_null"), col("nd_st").as("n_distinct"),
          col("min_st").as("min_s"), col("max_st").as("max_s")),
        struct(lit("o_totalprice").as("col_name"), col("n"),
          col("null_tp").as("n_null"), col("nd_tp").as("n_distinct"),
          col("min_tp").as("min_s"), col("max_tp").as("max_s")))).as("p"))
      .select(col("p.col_name"), col("p.n"), col("p.n_null"),
        col("p.n_distinct"), col("p.min_s"), col("p.max_s"))
      .orderBy("col_name")
  }

  /** CDC upsert — the MERGE INTO shape every incremental pipeline ships:
    * apply a change batch (inserts / updates / deletes) to a base
    * snapshot in one pass. The reference's A11+A12 is the degenerate
    * whole-DB version of this (destructive overwrite); real pipelines
    * merge row-level. The change batch here is derived deterministically
    * from the base so the query is self-contained: orderkey % 17 == 0 →
    * delete, else % 10 == 0 → update (price + 100), and inserts in the
    * NEGATED key space (-k is disjoint from every positive live key at
    * any scale factor — an offset like k + 10^6 collides with real keys
    * once the table outgrows the offset). Plan shape: ONE full-outer equi join
    * base ⟗ changes on the key, then per-row resolution (coalesce + op
    * dispatch) — at 100 TB the change batch is typically small enough
    * that AQE broadcasts it (unhinted on purpose), and the base is never
    * read twice. Output: per-status row counts + exact price sums of the
    * merged snapshot, plus applied-op counts. */
  def upsertCdc(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").as("price"))
    val existing = base.select(col("k"),
        when(col("k") % 17 === 0, "D")
          .when(col("k") % 10 === 0, "U")
          .as("op"),
        (col("price") + 100.0).as("new_price"), col("st").as("new_st"))
      .filter(col("op").isNotNull)
    val inserts = base.filter(col("k") % 23 === 0)
      .select((-col("k")).as("k"), lit("I").as("op"),
        lit(42.5).as("new_price"), lit("N").as("new_st"))
    val changes = existing.union(inserts)
    val merged = base.join(changes, Seq("k"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(col("k"),
        coalesce(col("op"), lit("keep")).as("op"),
        when(col("op").isin("U", "I"), col("new_st")).otherwise(col("st")).as("st"),
        when(col("op").isin("U", "I"), col("new_price")).otherwise(col("price"))
          .as("price"))
    merged.groupBy("st")
      .agg(count(lit(1)).as("n_rows"),
        dsumR(col("price"), Money).as("sum_price"),
        sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_inserted"))
      .orderBy("st")
  }

  /** Quality ROUTING — the dead-letter complement of [[qualityChecks]]'s
    * report: every row gets a disposition (first failing rule, in fixed
    * precedence order, else 'ok'), and the pipeline writes each
    * disposition to its own sink instead of failing the batch. One
    * per-row CASE projection + one hash agg: the routing decision never
    * shuffles the corpus, and the quarantine side carries the smallest
    * offending key per reason for spot debugging. Rules (precedence):
    * null order key, non-positive quantity, discount outside [0, 0.5],
    * ship date outside the loaded window. */
  def quarantineSplit(spark: SparkSession, dir: String): DataFrame = {
    val disposition =
      when(col("l_orderkey").isNull, "null_orderkey")
        .when(col("l_quantity") <= 0.0, "bad_quantity")
        .when(col("l_discount") < 0.0 || col("l_discount") > 0.5, "bad_discount")
        .when(col("l_shipdate") < lit("1990-01-01") ||
          col("l_shipdate") >= lit("2000-01-01"), "bad_shipdate")
        .otherwise("ok")
    table(spark, dir, "lineitem")
      .withColumn("disposition", disposition)
      .groupBy("disposition")
      .agg(count(lit(1)).as("n"),
        min(col("l_orderkey")).as("min_key"),
        dsumR(col("l_quantity"), Qty).as("sum_qty"))
      .orderBy("disposition")
  }

  /** Order-independent table content checksum — the cheap equality
    * primitive behind snapshot promotion, replica verification, and
    * migration sign-off at 100 TB: hash each row canonically, SUM the
    * hashes per group (commutative, so NO global sort and no row
    * pairing; map-side partial sums shuffle one number per partition),
    * and compare the per-group totals of two tables. The full row-diff
    * ([[snapshotDiff]]) is what you run AFTER a checksum mismatch tells
    * you which group diverged. Row hash: the HIGH 60 bits of md5 (the
    * leading 15 hex chars of the digest) over a
    * '|'-joined canonical projection (explicit VARCHAR casts so both
    * engines hash identical bytes), summed as DECIMAL(38,0) — a BIGINT
    * sum would overflow at ~8 rows × 2⁶⁰; 38 digits holds ~10¹⁸ rows. */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    val canonical = concat_ws("|",
      col("doc_id").cast("string"), col("lang"), col("source"),
      col("n_chars").cast("string"), md5(col("text").cast("binary")))
    val rowHash = conv(substring(md5(canonical.cast("binary")), 1, 15), 16, 10)
      .cast(DecimalType(38, 0))
    table(spark, dir, "documents")
      .select(col("source"), rowHash.as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h")).cast(DecimalType(38, 0)).as("cks"))
      .select(col("source"), col("n_rows"),
        col("cks").cast("string").as("checksum"))
      .orderBy("source")
  }

  /** Bitmap existence index — set algebra over a high-cardinality key
    * WITHOUT a distinct or a key-grain join: which customers have BOTH
    * an urgent-priority order and a failed one? Each predicate's
    * membership set compresses 63:1 into (bucket = key div 63, word =
    * OR of 1<<(key mod 63)) — the roaring-bitmap layout spelled as a
    * hash agg with a bit_or combiner (idempotent, so duplicate orders
    * per customer cost nothing and no pre-distinct is needed).
    * Intersection/union then run on the WORD frame as bitwise AND/OR +
    * popcount — at 100 TB the shuffle carries |keys|/63 words per
    * side instead of every (key, predicate) pair, and the same
    * persisted word frames would serve any boolean combination of
    * predicates without rescanning the fact table. 63-bit words keep
    * 1<<k off the sign bit, which DuckDB's left shift rejects.
    * Everything is exact integer math; the only double is the final
    * Jaccard. */
  def bitmapIndex(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    def words(pred: Column, as: String): DataFrame =
      o.filter(pred)
        .select(expr("o_custkey div 63").as("bucket"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(o_custkey % 63 AS INT))")
            .as("w"))
        .groupBy("bucket").agg(expr("bit_or(w)").as(as))
    val wa = words(col("o_orderpriority") === "1-URGENT", "wa")
    val wb = words(col("o_orderstatus") === "F", "wb")
    val j = wa.join(wb, Seq("bucket"), "full_outer")
      .select(coalesce(col("wa"), lit(0L)).as("wa"),
        coalesce(col("wb"), lit(0L)).as("wb"))
    val agg = j.agg(count(lit(1)).as("n_buckets"),
      sum(expr("bit_count(wa)").cast("long")).as("n_a"),
      sum(expr("bit_count(wb)").cast("long")).as("n_b"),
      sum(expr("bit_count(wa & wb)").cast("long")).as("n_and"),
      sum(expr("bit_count(wa | wb)").cast("long")).as("n_or"))
    agg.select(col("n_buckets"), col("n_a"), col("n_b"), col("n_and"),
      col("n_or"),
      r6(when(col("n_or") > 0,
        col("n_and").cast("double") / col("n_or").cast("double")))
        .as("jaccard"))
  }

  /** Snapshot diff — the inverse of [[upsertCdc]]: given two snapshots,
    * PRODUCE the change batch (added / removed / changed / unchanged),
    * the comparison a pipeline runs when a source can't emit its own CDC
    * feed (the reference re-imports whole snapshots daily — this is
    * exactly the "what changed since yesterday" question its consumers
    * would ask). The "next" snapshot derives deterministically from the
    * base: keys % 13 == 0 dropped, % 7 == 0 repriced (+50), and rows
    * added in the NEGATED key space (disjoint from any positive key at
    * any scale factor). One full-outer equi join on the
    * key; per-row classification is a codegen'd projection. Output:
    * per diff status, row count, exact price delta, and key fences. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
    val next = base.filter(col("k") % 13 =!= 0)
      .select(col("k"),
        when(col("k") % 7 === 0, col("price") + 50.0).otherwise(col("price"))
          .as("price"))
      .union(base.filter(col("k") % 19 === 0)
        .select((-col("k")).as("k"), lit(99.99).as("price")))
    val d = base.select(col("k"), col("price").as("p0"))
      .join(next.select(col("k"), col("price").as("p1")), Seq("k"), "full_outer")
      .select(col("k"),
        when(col("p0").isNull, "added")
          .when(col("p1").isNull, "removed")
          .when(col("p0") =!= col("p1"), "changed")
          .otherwise("unchanged").as("status"),
        (coalesce(col("p1"), lit(0.0)) - coalesce(col("p0"), lit(0.0))).as("delta"))
    d.groupBy("status")
      .agg(count(lit(1)).as("n"),
        dsumR(col("delta"), Money).as("price_delta"),
        min(col("k")).as("min_key"),
        max(col("k")).as("max_key"))
      .orderBy("status")
  }

  /** SCD2 history building — turn an event stream into
    * slowly-changing-dimension type-2 intervals: per user, one row per
    * run of consecutive equal event_types, with valid_from/valid_to
    * (null = still current) and a version number. The standard
    * warehouse transform for "what was the state at time T" queries.
    * All four window expressions (change detection, version numbering,
    * interval close) share ONE (user_id, ts) sort; segment count is
    * bounded by event count and typically far smaller. */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val e = table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("ver", sum(col("chg")).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val seg = e.groupBy("user_id", "ver")
      .agg(min(col("event_type")).as("event_type"),   // constant within segment
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val w2 = Window.partitionBy("user_id").orderBy("ver")
    seg
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .select(col("user_id"), col("ver"), col("event_type"),
        tsS(col("valid_from")).as("valid_from_s"),
        coalesce(tsS(col("valid_to")), lit("current")).as("valid_to_s"),
        col("n_events"))
      .orderBy("user_id", "ver")
  }

  /** Data-quality constraint sweep — the acceptance gate a pipeline runs
    * before trusting a new snapshot (the reference trusts its snapshot
    * blindly at `src/bak_unload.ps1:98-103`; this is the check its
    * consumers would want): one report row per declared constraint with
    * checked/violation counts, violation rate, and the smallest offending
    * key for spot debugging. Covers the four standard constraint classes —
    * null keys, value ranges, key uniqueness, referential integrity.
    * Shape at scale: ONE scan per table evaluates all of that table's
    * row-level predicates as conditional aggregates (map-side partial,
    * 1-row result each); uniqueness is one hash agg on the key;
    * referential integrity is one left join against the distinct parent
    * keys (AQE broadcasts the parent side while it fits — unhinted on
    * purpose). Nothing here is ever wider than a 1-row aggregate, so the
    * report stays cheap at any corpus size. */
  def qualityChecks(spark: SparkSession, dir: String): DataFrame = {
    def rowChecks(df: DataFrame, key: Column,
        checks: Seq[(String, Column)]): DataFrame = {
      val aggs = checks.zipWithIndex.flatMap { case ((_, pred), i) =>
        Seq(
          sum(when(pred, 1L).otherwise(0L)).as(s"v$i"),
          min(when(pred, key)).cast("string").as(s"k$i"))
      }
      val a = df.agg(count(lit(1)).as("n"), aggs: _*)
      a.select(explode(array(checks.zipWithIndex.map { case ((nm, _), i) =>
          struct(lit(nm).as("check_name"), col("n").as("n_checked"),
            col(s"v$i").as("n_violations"), col(s"k$i").as("sample_key"))
        }: _*)).as("c"))
        .select(col("c.check_name"), col("c.n_checked"),
          col("c.n_violations"), col("c.sample_key"))
    }
    val o = table(spark, dir, "orders")
    val ordersChecks = rowChecks(o, col("o_orderkey"), Seq(
      "orders_null_custkey" -> col("o_custkey").isNull,
      "orders_price_range" ->
        (col("o_totalprice") <= 0.0 || col("o_totalprice") > 450000.0)))
    val dup = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_violations"),
        min(when(col("cnt") > 1, col("o_orderkey"))).cast("string")
          .as("sample_key"))
      .select(lit("orders_dup_orderkey").as("check_name"), col("n_checked"),
        col("n_violations"), col("sample_key"))
    val orphan = o.select(col("o_orderkey"), col("o_custkey"))
      .join(
        table(spark, dir, "customer").select(col("c_custkey")).distinct(),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_violations"),
        min(when(col("c_custkey").isNull, col("o_orderkey"))).cast("string")
          .as("sample_key"))
      .select(lit("orders_orphan_custkey").as("check_name"), col("n_checked"),
        col("n_violations"), col("sample_key"))
    val eventsChecks = rowChecks(table(spark, dir, "events"), col("event_id"),
      Seq(
        "events_value_range" -> (col("value") < 0.0 || col("value") > 400.0),
        "events_ts_window" ->
          (col("ts") < lit("2024-01-01").cast("timestamp") ||
            col("ts") >= lit("2024-02-01").cast("timestamp"))))
    val docChecks = rowChecks(table(spark, dir, "documents"), col("doc_id"),
      Seq(
        "documents_lang_allowed" -> !col("lang").isin("en", "de", "fr", "es"),
        "documents_len_mismatch" -> (col("n_chars") =!= length(col("text")))))
    ordersChecks.union(dup).union(orphan).union(eventsChecks).union(docChecks)
      .withColumn("viol_rate",
        r6(col("n_violations").cast("double") / col("n_checked").cast("double")))
      .select(col("check_name"), col("n_checked"), col("n_violations"),
        col("viol_rate"), col("sample_key"))
      .orderBy("check_name")
  }

  /** Completeness gap detection — find the MISSING (event_type, hour)
    * slots inside each type's observed time span: the monitoring query
    * that tells an ingest pipeline "source X stopped emitting between 3
    * and 5am" (the reference's daily snapshot model would silently serve
    * stale data through such a gap — its scheduler `README.md:63-68` has
    * no completeness check at all). Shape at scale: the corpus collapses
    * map-side to distinct (type, hour) — bounded by types × span hours,
    * tiny regardless of event volume — then the expected grid is a
    * per-type `sequence()` explode over the span bounds and the gaps fall
    * out of a left-anti join of grid against observed. The corpus is
    * scanned exactly once and everything after the first aggregate is
    * proportional to the calendar, not the data. */
  def gapDetect(spark: SparkSession, dir: String): DataFrame = {
    val observed = table(spark, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .distinct()
    val grid = observed.groupBy("event_type")
      .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"), expr("interval 1 hour")))
          .as("hr"))
    grid.join(observed, Seq("event_type", "hr"), "left_anti")
      .select(col("event_type"), tsS(col("hr")).as("missing_hour"))
      .orderBy("event_type", "missing_hour")
  }

  /** Incremental aggregate maintenance — merge a new day's PARTIAL
    * aggregates into a standing summary instead of rescanning history:
    * the transform that turns the reference's daily full-snapshot reload
    * (`src/bak_unload.ps1:90-103`) into an incremental rollup. The
    * standing summary (events before the cutover, pre-aggregated per
    * (event_type, day)) and the new batch's partial aggregate union and
    * re-aggregate on the group key — counts and sums ADD, mins/maxes
    * COMBINE, so the merge touches only summary-sized data. The oracle
    * aggregates the WHOLE table from scratch, proving the incremental
    * path equals the full recompute (the algebraic mergeability this
    * depends on is exactly why the per-day partials can also live as a
    * table and absorb batch N+1 tomorrow). At 100 TB: the standing
    * summary is days × types rows; only the new batch is scanned. */
  def rollupMerge(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-25").cast("timestamp")
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("event_type"), dateS(date_trunc("DAY", col("ts"))).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(Qty)).as("sv"),
          min(col("value")).as("mn"),
          max(col("value")).as("mx"))
    val e = table(spark, dir, "events")
    val standing = partial(e.filter(col("ts") < cut))
    val delta = partial(e.filter(col("ts") >= cut))
    standing.union(delta)
      .groupBy("event_type", "day")
      .agg(sum(col("n")).as("n_events"),
        round(sum(col("sv")).cast("double"), 4).as("sum_value"),
        min(col("mn")).as("min_value"),
        max(col("mx")).as("max_value"))
      .orderBy("event_type", "day")
  }

  /** Z-ORDER clustering stats — the multi-dimensional layout technique
    * (Delta/Iceberg OPTIMIZE ZORDER) that makes min/max data skipping
    * work on BOTH filter columns at once: interleave the bits of the two
    * sort keys into one z-value, cluster by z-ranges, and every file's
    * (min, max) fence stays tight on each dimension — a plain
    * single-key sort gives perfect fences on one column and useless
    * ones on the other. Keys here: 8-bit customer × 8-bit order-key
    * hashes over `orders`, interleaved to a 16-bit z; buckets are the
    * top 8 z-bits, i.e. the 16×16 coarse grid. The output is the layout
    * DIAGNOSTIC a table optimizer ships: per z-bucket, row count and
    * both dimensions' fences, whose spans (≤ 1/16 of each domain) prove
    * two-dimensional locality. Everything is exact integer arithmetic —
    * one codegen'd projection + one hash agg, no shuffle beyond the
    * bucket agg — and the oracle replays the same bit interleave (its
    * SQL terms generated by [[zorderTermSql]]'s loop; the CORRECTNESS
    * gate plus the bijectivity property over [[zorderCol]] hold the two
    * spellings together). */
  /** z = Σ_i ((x>>i & 1) << 2i) | ((y>>i & 1) << (2i+1)) — x in even
    * bits. Exposed so the bijectivity property test exercises THIS
    * expression, not its own re-spelling. */
  private[graft] def zorderCol(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val x = pmod(col("o_custkey"), lit(256L))
    val y = pmod(col("o_orderkey"), lit(256L))
    val z = zorderCol(x, y, 8)
    table(spark, dir, "orders")
      .select(x.as("xv"), y.as("yv"), z.as("zv"))
      .groupBy(shiftright(col("zv"), 8).as("z_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("xv")).as("min_x"), max(col("xv")).as("max_x"),
        min(col("yv")).as("min_y"), max(col("yv")).as("max_y"))
      .orderBy("z_bucket")
  }

  private def zorderTermSql(xe: String, ye: String): String =
    (0 until 8).map { i =>
      s"(((($xe >> $i) & 1) << ${2 * i}) | ((($ye >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" | ")

  /** Small-file COMPACTION plan — the table-maintenance pass every
    * petabyte lakehouse runs on a cadence: pack each partition's files
    * (stand-in: per-source documents, sized by n_chars) into target-size
    * output bins by cumulative size, so a million tiny files become
    * ceil(bytes/target) right-sized ones. The plan is the deterministic
    * prefix-sum formulation (bin = floor(cum-bytes-before / target)):
    * one window per source partition, no driver-side loop — at 100 TB
    * the manifest itself is big data and this IS how you plan over it.
    * Greedy first-fit would need sequential state; prefix-sum binning is
    * its order-preserving, shuffle-parallel equivalent (bins may
    * slightly overflow target by one file — the standard trade). */
  def compactionBins(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val target = 2048L
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("cum_before", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $target"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "bin")
  }

  /** SCHEMA EVOLUTION read — the lakehouse reality that a long-lived
    * table's old files lack columns added later: the even-event_id half
    * of `events` is written WITHOUT user_id (the v1 schema), the odd
    * half WITH it (v2), and one `mergeSchema` read unions both vintages,
    * nulling the missing column in old files. The aggregate proves the
    * semantics end to end: per type, rows from both vintages, non-null
    * user counts only from v2 files, value sums spanning both. Shape at
    * scale: schema merge is a FOOTER operation (one pass over file
    * metadata, not data) and the scan stays a plain parquet scan with
    * pushdown intact — evolution costs nothing per row. Scratch layout
    * is written once per input content, the [[partitionPrune]]
    * discipline. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val scratch = CorpusScope.persisted("evoScratch", spark, dir, "events") { a =>
      val out = a.path("d")
      val e = table(spark, dir, "events")
      e.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$out/v1")
      e.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("event_type"), col("value"), col("user_id"))
        .write.mode("overwrite").parquet(s"$out/v2")
      out
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$scratch/v1", s"$scratch/v2")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("user_id").isNotNull, 1L).otherwise(0L)).as("n_with_user"),
        countDistinct(col("user_id")).as("n_users"),
        dsumR(col("value"), Qty).as("sum_value"))
      .orderBy("event_type")
  }

  /** CSV source/sink round-trip — the third interchange format after
    * parquet and JDBC (every real ingest estate has CSV drops): write
    * `documents` as headered CSV once per input content, read it back with an
    * EXPLICIT schema, and emit the full relation. The `tricky` column
    * embeds the delimiter AND the quote character, so the gate fails on
    * any quoting/escaping asymmetry between writer and reader — the
    * failure mode that silently corrupts CSV pipelines. Scale shape: CSV
    * is row-major and line-splittable, so the read parallelizes per
    * HDFS-block like any text source; the explicit schema avoids the
    * full inference pass (at 100 TB, inference IS a second scan). The
    * oracle recomputes the same projection straight from the parquet
    * table — identity modulo one write→read round trip. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val scratch = CorpusScope.persisted("csvScratch", spark, dir, "documents") { a =>
      val out = a.path("csv_")
      graft.sources.TextFormats.writeCsv(
        table(spark, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"),
            concat(col("lang"), lit(","), lit("\""), col("source"), lit("\""))
              .as("tricky")),
        out)
      out
    }
    graft.sources.TextFormats.readCsv(spark, scratch,
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
          "n_chars BIGINT, tricky STRING"))
      .drop(graft.sources.TextFormats.CorruptCol)
      .orderBy("doc_id")
  }

  /** JSON-lines round-trip with NESTED shapes — a struct and an array
    * survive write→read, the part a CSV can't express: `meta` is a
    * struct<lang, n_chars>, `head_toks` an array<string>. Read back with
    * an explicit schema (no inference scan) and flattened for the
    * oracle compare. JSON-lines is line-splittable like CSV — the
    * parallel-read story holds; nested access after the read is a
    * per-row projection, no shuffle anywhere. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val scratch = CorpusScope.persisted("jsonScratch", spark, dir, "documents") { a =>
      val out = a.path("json_")
      table(spark, dir, "documents")
        .select(col("doc_id"),
          struct(col("lang"), col("n_chars")).as("meta"),
          slice(split(col("text"), " "), 1, 3).as("head_toks"),
          col("source"))
        .write.mode("overwrite").json(out)
      out
    }
    graft.sources.TextFormats.readJsonLines(spark, scratch,
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, meta STRUCT<lang: STRING, n_chars: BIGINT>, " +
          "head_toks ARRAY<STRING>, source STRING"))
      .select(col("doc_id"), col("meta.lang").as("lang"),
        col("meta.n_chars").as("n_chars"),
        array_join(col("head_toks"), " ").as("head3"), col("source"))
      .orderBy("doc_id")
  }

  /** ORC round-trip — the other columnar format Spark ships natively,
    * closing the format matrix (parquet, CSV, JSON-lines, ORC, JDBC,
    * zip archives). Self-describing footer schema, so the read takes no
    * explicit schema; predicate-pushdown/statistics behave as parquet's
    * do. Written once per input content; oracle recomputes the projection
    * from the parquet table. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val scratch = CorpusScope.persisted("orcScratch", spark, dir, "documents") { a =>
      val out = a.path("orc_")
      graft.sources.TextFormats.writeOrc(
        table(spark, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars")),
        out)
      out
    }
    graft.sources.TextFormats.readOrc(spark, scratch)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("source", "lang")
  }

  /** Avro round-trip — the row-major interchange format every
    * Kafka/ingest estate emits, closing the format matrix (parquet,
    * CSV, JSON-lines, ORC, JDBC, zip, Avro). The write is the
    * distributed one-container-per-task sink
    * ([[graft.sources.AvroFiles.writeAvro]], public Avro Java API with
    * deflate blocks); the read is the DSv2 connector
    * ([[graft.sources.AvroFilesSource]]) with header schema INFERENCE
    * (self-describing container — no schema passed here, the read
    * proves the inferred one) and reader-schema column pruning. The
    * value column rides as exact integer cents so the roundtrip
    * compare is bit-exact, and ts as the engine's formatted string
    * (Avro long timestamps would re-open the µs-precision parity
    * trap). Scratch layout is written once per input content. */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val scratch = CorpusScope.persisted("avroScratch", spark, dir, "events") { a =>
      val out = a.path("avro_")
      graft.sources.AvroFiles.writeAvro(
        table(spark, dir, "events").select(
          col("event_id"), col("event_type"), col("user_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"),
          tsS(col("ts")).as("ts_s")),
        out)
      out
    }
    spark.read.format("graft.sources.AvroFilesSource").load(scratch)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("cents_sum"),
        min(col("ts_s")).as("first_ts"), max(col("ts_s")).as("last_ts"))
      .orderBy("event_type")
  }

  /** Deterministic train/val/test split — the dataset-construction op
    * every training run needs: membership is a pure function of the row
    * key (first 4 md5 hex digits vs fixed thresholds → ~80/10/10), so the
    * split is identical across engines, retries, partitionings, and
    * cluster sizes, and any later run reproduces the exact membership —
    * rand()-seeded splits drift under re-partitioning and retries, hash
    * splits cannot. The split column is a per-row projection evaluated
    * map-side in the scan stage; nothing shuffles but the tiny
    * (split, source) agg partials, so at 100 TB this is a single pass.
    * Threshold arithmetic: 0xcccd/0x10000 ≈ 0.8000, 0xe666/0x10000 ≈
    * 0.9000 — string compare on the fixed-width hex prefix. */
  def splitTrainTest(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4)
    val split = when(h < "cccd", "train").when(h < "e666", "val").otherwise("test")
    table(spark, dir, "documents")
      .withColumn("split", split)
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("split", "source")
  }

  /** Write-once [[graft.sources.DeltaLite]] table over `events`, shared
    * by [[deltaLog]] and [[vacuumPlan]]. Four commits exercise the whole
    * log lifecycle: v1 adds slices A (event_id%3=0 → a.parquet) and B
    * (%3=1 → b.parquet); v2 adds C (%3=2 → c.parquet); v3 COMPACTS A+B
    * into ab.parquet (remove+add of identical rows — results must not
    * move); v4 compacts C into c2.parquet. Row-count stats are recorded
    * on each add action, so vacuum planning stays a metadata query. */
  private def deltaTable(spark: SparkSession, dir: String): String =
    CorpusScope.persisted("deltaScratch", spark, dir, "events") { a =>
      import graft.sources.DeltaLite
      import graft.sources.DeltaLite.Action
      val out = new java.io.File(a.path("d"))
      val ev = table(spark, dir, "events")
      def writeSlice(name: String, pred: Column): Long = {
        val target = new java.io.File(out, name).getPath
        ev.filter(pred).write.mode("overwrite").parquet(target)
        // count the WRITTEN output: parquet footers answer count(*) from
        // metadata, where re-counting the source would scan + filter the
        // events table a second time per slice
        spark.read.parquet(target).count()
      }
      val na = writeSlice("a.parquet", col("event_id") % 3 === 0)
      val nb = writeSlice("b.parquet", col("event_id") % 3 === 1)
      DeltaLite.commit(out.getPath, 1, Seq(
        Action(1, "add", "a.parquet", na), Action(1, "add", "b.parquet", nb)))
      val nc = writeSlice("c.parquet", col("event_id") % 3 === 2)
      DeltaLite.commit(out.getPath, 2, Seq(Action(2, "add", "c.parquet", nc)))
      // v3: compaction — rewrite A∪B from the LIVE SNAPSHOT (not the
      // source table): a real compactor only has the table itself.
      val ab = DeltaLite.snapshot(spark, out.getPath, Some(2))
        .filter(col("event_id") % 3 =!= 2)
      ab.write.mode("overwrite").parquet(new java.io.File(out, "ab.parquet").getPath)
      DeltaLite.commit(out.getPath, 3, Seq(
        Action(3, "remove", "a.parquet", -1L), Action(3, "remove", "b.parquet", -1L),
        Action(3, "add", "ab.parquet", na + nb)))
      val c2 = DeltaLite.snapshot(spark, out.getPath, Some(3))
        .filter(col("event_id") % 3 === 2)
      c2.write.mode("overwrite").parquet(new java.io.File(out, "c2.parquet").getPath)
      DeltaLite.commit(out.getPath, 4, Seq(
        Action(4, "remove", "c.parquet", -1L),
        Action(4, "add", "c2.parquet", nc)))
      out.getPath
    }

  /** Transaction-log table format end to end ([[graft.sources.DeltaLite]]
    * — the Delta/Iceberg commit pattern): the same aggregate read at
    * TIME-TRAVEL version 1 (slices A+B) and at the latest version 4
    * (everything, after two compaction rewrites). The v4 numbers equal a
    * direct scan of the source table — compaction (remove+add of
    * identical rows) is invisible to results BY CONSTRUCTION of the log
    * replay, which is precisely the property the oracle gates: DuckDB
    * computes both versions straight from `events` slices, knowing
    * nothing about files or commits. */
  def deltaLog(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLite
    val t = deltaTable(spark, dir)
    def agg(asOf: Long): DataFrame =
      DeltaLite.snapshot(spark, t, Some(asOf))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsumR(col("value"), Qty).as("sum_value"))
        .withColumn("version", lit(asOf))
    agg(1).unionByName(agg(4))
      .select(col("version"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("version", "event_type")
  }

  /** Vacuum PLANNING from the transaction log alone (retention = 1
    * version at current = 4): files removed at v ≤ 3 are reclaimable,
    * the v4 remove must stay for time travel. Row counts come from the
    * add-time stats in the LOG — the plan never opens a data file, which
    * is what keeps vacuum a metadata operation at 100 TB. The oracle
    * recomputes each file's row count from the `events` slices and the
    * eligibility arithmetic from the commit constants. */
  def vacuumPlan(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLite
    val t = deltaTable(spark, dir)
    DeltaLite.vacuumPlan(spark, t, currentVersion = 4L, retention = 1L)
      .select(col("path"), col("removed_version"), col("n_rows"),
        col("eligible"))
      .orderBy("path")
  }

  /** Table HISTORY from the transaction log — `DESCRIBE HISTORY` for
    * [[graft.sources.DeltaLite]]: per version, the action mix and the
    * rows added (from the add-time stats). Pure log read — the audit
    * question ("what happened to this table, when, how big") never
    * touches a data file; the log is #actions-bounded at any table
    * size. The oracle recomputes rows-added per version from the
    * `events` slices and the action counts from the commit constants. */
  def deltaHistory(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLite
    val t = deltaTable(spark, dir)
    DeltaLite.actions(spark, t)
      .groupBy("version")
      .agg(count(lit(1)).as("n_actions"),
        sum(when(col("action") === "add", 1L).otherwise(0L)).as("n_adds"),
        sum(when(col("action") === "remove", 1L).otherwise(0L)).as("n_removes"),
        sum(when(col("action") === "add", col("n_rows")).otherwise(0L))
          .as("rows_added"))
      .orderBy("version")
  }

  /** Curriculum ordering — the training-data writer's "easy first"
    * layout: docs are staged by length quartile (score = token count,
    * boundary ties go to the LOWER stage via strict >) and
    * pseudo-shuffled inside each stage by a salted md5 of doc_id, so
    * every run of the pipeline emits the identical curriculum. The
    * per-doc position is computed with the SCALE spelling, not a
    * 4-partition ranking window: docs bucket by their hash prefix
    * (256 buckets/stage), per-bucket counts roll into cumulative
    * offsets over that ≤ 4×256-row aggregate, and the final position
    * is offset + rank within (stage, bucket) — an arbitrary-cardinality
    * window. This is the two-pass global-order pattern
    * (repartitionByRange + per-partition offsets) that survives 100 TB;
    * a `row_number() OVER (PARTITION BY stage)` would sort the corpus
    * on 4 tasks. Quartile boundaries are exact interpolated percentiles
    * of an INT score at quarter fractions — exact doubles on both
    * engines — r6-rounded before the comparison anyway (the RFM
    * boundary-tie discipline). */
  def pipeCurriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val scored = table(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("score"))
    val qs = scored
      .agg(expr("percentile(score, array(0.25D, 0.5D, 0.75D))").as("q"))
      .select(r6(element_at(col("q"), 1)).as("q1"),
        r6(element_at(col("q"), 2)).as("q2"),
        r6(element_at(col("q"), 3)).as("q3"))
    val staged = scored.crossJoin(broadcast(qs))
      .withColumn("stage", lit(1) + (col("score") > col("q1")).cast("long") +
        (col("score") > col("q2")).cast("long") +
        (col("score") > col("q3")).cast("long"))
      .withColumn("shuf", md5(concat(lit("curr:"), col("doc_id").cast("string"))))
      .withColumn("bkt", substring(col("shuf"), 1, 2))
    val counts = staged.groupBy("stage", "bkt").agg(count(lit(1)).as("n"))
    val wOff = Window.partitionBy("stage").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = counts
      .withColumn("off", sum(col("n")).over(wOff) - col("n")).drop("n")
    val wIn = Window.partitionBy("stage", "bkt").orderBy("shuf", "doc_id")
    staged.join(broadcast(offs), Seq("stage", "bkt"))
      .withColumn("pos", col("off") + row_number().over(wIn))
      .select(col("doc_id"), col("score"), col("stage"), col("pos"))
      .orderBy("stage", "pos")
  }

  /** The ANALYZE-TABLE surface: (table, column) → row count, null
    * count, exact NDV, numeric min/max — the statistics a cost-based
    * optimizer and a data-quality dashboard both read. One scan per
    * table computes every column's stats in a single aggregate (the
    * multi-distinct Expand shape of `agg_multi_distinct`); the 1-row
    * result fans out to per-column rows driver-side — nothing
    * table-sized moves. At 100 TB the exact NDVs swap for HLL sketches
    * (`agg_approx_distinct`'s path) — documented trade, same output
    * schema. min/max are computed in the NATIVE type (numeric, not
    * lexicographic) and cast to string last; both engines print
    * shortest-round-trip doubles so the strings agree. Shared spec list
    * generates both the Spark plan and the oracle SQL — they cannot
    * drift. */
  private val analyzeSpecs: Seq[(String, Seq[String])] = Seq(
    ("customer", Seq("c_custkey", "c_acctbal", "c_mktsegment")),
    ("orders", Seq("o_orderkey", "o_totalprice", "o_orderpriority")),
    ("lineitem", Seq("l_orderkey", "l_quantity", "l_returnflag")))

  def pipeAnalyzeStats(spark: SparkSession, dir: String): DataFrame =
    analyzeSpecs.map { case (t, cols) =>
      val df = table(spark, dir, t)
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"${c}__cnt"),
        countDistinct(col(c)).as(s"${c}__ndv"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))) :+ count(lit(1)).as("__n")
      val r = df.agg(aggs.head, aggs.tail: _*)
      cols.map(c => r.select(lit(t).as("tbl"), lit(c).as("col"),
          col("__n").as("n_rows"),
          (col("__n") - col(s"${c}__cnt")).as("n_null"),
          col(s"${c}__ndv").as("ndv"),
          col(s"${c}__min").as("min_s"), col(s"${c}__max").as("max_s")))
        .reduce(_ unionByName _)
    }.reduce(_ unionByName _).orderBy("tbl", "col")

  private[ops] val analyzeStatsOracle: String =
    analyzeSpecs.flatMap { case (t, cols) =>
      cols.map(c =>
        s"""SELECT '$t' AS tbl, '$c' AS col, count(*) AS n_rows,
           count(*) - count($c) AS n_null, count(DISTINCT $c) AS ndv,
           CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
           FROM $t""")
    }.mkString("SELECT * FROM (", "\n           UNION ALL ", ") ORDER BY tbl, col")

  /** Partition-skew diagnostic — "will this key hash evenly across the
    * cluster?": events bucketed 32 ways on a key-derived hash, per-
    * bucket row/user counts, and the max/mean skew ratio that predicts
    * straggler tasks. The bucket is md5-derived (the engine's portable
    * proxy for hashpartitioning — Spark's Murmur3 `hash()` has no
    * DuckDB twin, so the REAL partitioner isn't oracle-mirrorable; the
    * md5 bucket has the same uniformity and the identical spelling on
    * both engines). One hash agg to the ≤32-row bucket table; the
    * summary ratio is a full-frame window over that aggregate. */
  def pipeSkewReport(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (conv(substring(
      md5(col("user_id").cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long") % 32).as("bucket")
    val g = table(spark, dir, "events")
      .groupBy(bucket)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"))
    val wf = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("tot", sum(col("n_rows")).over(wf))
      .withColumn("nb", count(lit(1)).over(wf))
      .withColumn("mx", max(col("n_rows")).over(wf))
      .select(col("bucket"), col("n_rows"), col("n_users"),
        r6(col("n_rows").cast("double") / col("tot").cast("double")).as("share"),
        r4(col("mx").cast("double") /
          (col("tot").cast("double") / col("nb").cast("double"))).as("skew_ratio"))
      .orderBy("bucket")
  }

  /** Deterministic WEIGHTED sampling (Efraimidis–Spirakis A-ES): each
    * doc draws a reproducible pseudo-uniform u from md5(doc_id) and
    * competes with key u^(1/w), w = n_chars — longer docs
    * proportionally likelier, yet the same corpus always yields the
    * same sample (the property grid-rerun pipelines need; `rand()`
    * would resample every run). Top-64 by key is a single
    * TakeOrderedAndProject — no shuffle of the corpus, no ranking
    * window. Determinism note: selection compares raw pow() doubles —
    * libm ulp divergence could in principle flip an exact tie at the
    * boundary, but keys are 15-hex-digit dense (collision odds
    * ≈ n·2⁻⁵²); the emitted KEY is r6-rounded for the oracle
    * comparison. */
  def pipeSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    // 16^15 = 2^60, written as the exact literal so both engines divide
    // by the identical double (no pow() in the denominator)
    val u = (conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("double") / lit(1152921504606846976.0))
    val key = pow(u, lit(1.0) / col("n_chars").cast("double"))
    table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), key.as("k"))
      .orderBy(desc("k"), col("doc_id"))
      .limit(64)
      .select(col("doc_id"), col("n_chars"), r6(col("k")).as("key_r"))
      .orderBy(desc("key_r"), col("doc_id"))
  }

  /** Write-once persisted materialized view: per-(type, day) count +
    * revenue over the STANDING slice (user_id % 7 ≠ 0 — the same
    * standing/batch split convention as `dedup_incremental`). */
  private def mvLayout(spark: SparkSession, dir: String): String =
    CorpusScope.persisted("mvScratch", spark, dir, "events") { a =>
      val out = a.path("mv_")
      table(spark, dir, "events").filter(col("user_id") % 7 =!= 0)
        .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(Qty)).as("rev_d"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Incremental MATERIALIZED-VIEW maintenance — the aggregation twin of
    * `dedup_index_probe`'s A7 contract: a persisted daily-revenue MV
    * absorbs a new batch ALGEBRAICALLY (old MV ⊎ agg(batch), re-reduced
    * on the aggregate level) and must equal a full recompute over the
    * union — which is exactly what the oracle checks, knowing nothing
    * about the MV. The standing events are NEVER rescanned: the only
    * raw-events scan in the plan is the batch slice (PlanSpec-asserted),
    * the rest reads the ≤ |types|·|days| MV parquet. Sound because both
    * measures are commutative-monoid aggregates (counts and DECIMAL
    * sums — associativity is exact; a double sum would NOT be). At
    * 100 TB this is the difference between touching one delivery and
    * re-aggregating the lake. */
  def pipeMvIncremental(spark: SparkSession, dir: String): DataFrame = {
    val mv = spark.read.parquet(mvLayout(spark, dir))
    val batch = table(spark, dir, "events")
      .filter(col("user_id") % 7 === 0)
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Qty)).as("rev_d"))
    mv.unionByName(batch)
      .groupBy("et", "d")
      .agg(sum(col("n")).as("n"), sum(col("rev_d")).as("rev_d"))
      .select(col("et"), dateS(col("d")).as("day_s"), col("n"),
        round(col("rev_d").cast("double"), 2).as("rev"))
      .orderBy("et", "day_s")
  }

  /** Deterministic synthetic-data GENERATION as a first-class operator —
    * the LEAF the other 260+ queries lack: scale testing, fixture
    * minting, and soak harnesses all need corpus-shaped data that any
    * run regenerates bit-identically (the `graft.Soak` generator,
    * promoted to a declared, oracle-gated query). 10 000 rows spring
    * from a range; every field is a pure function of md5(row id) —
    * category (20 sources), a length in 10..100, a 2-decimal value —
    * so generation is embarrassingly parallel with ZERO input IO and
    * no `rand()` (which would resample per run/retry). The profile
    * (per-source counts, mean length, value checksum) is what the
    * oracle gates — DuckDB regenerates the identical table from the
    * identical arithmetic. Shape at scale: `spark.range` partitions
    * freely; one map-side-combined agg. */
  def pipeDatagenProfile(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(col("id").cast("string").cast("binary"))
    val u1 = conv(substring(h, 1, 15), 16, 10).cast("double") /
      lit(1152921504606846976.0)
    val u2 = conv(substring(h, 17, 15), 16, 10).cast("double") /
      lit(1152921504606846976.0)
    val rows = spark.range(0, 10000, 1, 32)
      .select(col("id"),
        concat(lit("src"), pmod(col("id"), lit(20L))).as("source"),
        (floor(u1 * 91).cast("long") + 10L).as("n_tokens"),
        (floor(u2 * 10000).cast("long").cast("double") / lit(100.0)).as("value"))
    rows.groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        r4(sum(col("n_tokens")).cast("double") /
          count(lit(1)).cast("double")).as("mean_tokens"),
        sum(col("value").cast(Qty)).cast("double").as("value_sum"),
        sum(pmod(conv(substring(md5(concat(col("id").cast("string"),
          lit(":"), col("n_tokens").cast("string")).cast("binary")), 1, 15),
          16, 10).cast("long"), lit(1000000007L))).as("checksum"))
      .orderBy("source")
  }

  /** Per-feed freshness/SLA report — the monitoring view a scheduled
    * ingest (the reference's daily Task-Scheduler re-run, A16) drives
    * alerts from: per event_type, event count, last-seen timestamp,
    * minutes behind the newest event in the WHOLE table, a 30-minute
    * SLA breach flag, and the count landed in the trailing hour (the
    * arrival-rate pulse). The global high-water mark is a one-row agg
    * broadcast into a single per-type hash agg — two passes over the
    * scan, no window, no sort beyond the |types| output. Lag math is
    * exact integer µs (no double time arithmetic to round). */
  def pipeFreshnessSla(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("event_type").as("et"), unix_micros(col("ts")).as("us"))
    val gmax = ev.agg(max(col("us")).as("gus"))
    ev.crossJoin(broadcast(gmax))
      .groupBy("et")
      .agg(count(lit(1)).as("n_events"),
        max(col("us")).as("tus"),
        max(col("gus")).as("gus2"),
        sum(when(col("us") >= col("gus") - lit(3600000000L), 1L)
          .otherwise(0L)).as("n_last_hour"))
      .select(col("et"), col("n_events"),
        tsS(timestamp_micros(col("tus"))).as("last_seen"),
        ((col("gus2") - col("tus")) / lit(60000000L)).cast("long")
          .as("lag_minutes"),
        (col("gus2") - col("tus") >= lit(1800000000L)).as("sla_breach"),
        col("n_last_hour"))
      .orderBy("et")
  }

  /** Right-to-be-forgotten deletion PLAN — the compliance sweep a
    * pipeline must run before erasing a user set: per event_type, how
    * many rows the request touches, how many users, the retained share,
    * and a checksum of the RETAINED rows (the post-delete audit anchor —
    * re-running the plan after the physical delete must reproduce it).
    * The request list is the deterministic user_id % 97 == 0 slice
    * (~1%); at scale it arrives as a table and the filter becomes a
    * broadcast anti-join — the [[incrementalAnti]] shape — with the same
    * aggregate on top. One scan, one conditional hash agg, no shuffle
    * beyond the ≤|types| rollup; checksum exact (md5-prefix mod prime,
    * the [[pipeDatagenProfile]] spelling). */
  def pipeGdprForget(spark: SparkSession, dir: String): DataFrame = {
    val forget = col("user_id") % 97 === 0
    val rowCk = conv(substring(md5(concat(col("event_id").cast("string"),
      lit(":"), col("user_id").cast("string")).cast("binary")), 1, 15), 16, 10)
      .cast("long") % lit(1000000007L)
    table(spark, dir, "events")
      .groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(forget, 1L).otherwise(0L)).as("n_delete"),
        countDistinct(when(forget, col("user_id"))).as("n_users_forgotten"),
        sum(when(!forget, rowCk).otherwise(0L)).as("retained_checksum"))
      .select(col("et"), col("n_total"), col("n_delete"),
        col("n_users_forgotten"),
        (col("n_total") - col("n_delete")).as("n_retained"),
        r6((col("n_total") - col("n_delete")).cast("double") /
          col("n_total").cast("double")).as("retained_share"),
        col("retained_checksum"))
      .orderBy("et")
  }

  /** Training-mixture rebalancing weights — the static data-mixing
    * calculation behind "sample every source toward the target share":
    * per source, the token mass, its actual share, the uniform target
    * share, and the sampling weight target/actual (>1 = upsample, the
    * expected epoch count over that source; <1 = downsample). Weights
    * above 2 are flagged — repeating a source more than twice is where
    * memorization risk starts and a curator should cap instead of
    * blindly reweighting. Shape: one hash agg to the per-source frame
    * (map-side combined token sums), totals broadcast back — the
    * model-sized join every mixture planner needs at any corpus size.
    * Token counts are exact whitespace-token integers, so every share
    * and weight is an exact-int ratio (bit-identical cross-engine). */
  def pipeMixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val per = table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        r6(col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
          .as("actual_share"),
        r6(lit(1.0) / col("n_sources").cast("double")).as("target_share"),
        r6((lit(1.0) / col("n_sources").cast("double")) /
          (col("n_tokens").cast("double") / col("tot_tokens").cast("double")))
          .as("weight"),
        ((lit(1.0) / col("n_sources").cast("double")) /
          (col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
          > lit(2.0)).as("upsample_capped"))
      .orderBy("source")
  }

  /** Token-budgeted output-shard planning — assign docs (in stable
    * ingest order) to ~2000-token shards by exclusive prefix sum, the
    * step between "filtered corpus" and "training shards on disk" that
    * decides file boundaries BEFORE any write. The naive spelling is a
    * global running sum (one sort partition at any scale); this is the
    * TWO-LEVEL prefix sum: doc_id-range buckets (monotone in the
    * order key) carry a bucket-partitioned exclusive window, bucket
    * totals roll up on the model-sized bucket frame, and shard_id =
    * (within + offset) div target — all integer-exact, no fp anywhere.
    * The oracle replays the textbook single-window prefix sum, so the
    * gate is the distributed≡sequential equivalence proof (the
    * [[graft.ops.Relational.sortParetoSkyline]] discipline). */
  def pipeShardPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
      .withColumn("bucket", expr("doc_id div 500"))
    val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inb = d.withColumn("pin", coalesce(sum(col("tok")).over(wIn), lit(0L)))
    val boff = d.groupBy("bucket").agg(sum(col("tok")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bucket"), col("boff"))
    inb.join(broadcast(boff), "bucket")
      .withColumn("shard_id", expr("(pin + boff) div 2000"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("shard_id")
  }

  // ── round-12 manifest-replay family: the reference's daily pipeline
  // semantics (A2 re-list, A5 empty guard, A6 top-1 pick, A7 seen-set)
  // turned into OVER-TIME history queries ──────────────────────────────

  /** Day-grain blob-manifest replay with a 90-day lifecycle TTL — the
    * shared frame of the manifest family. The reference re-lists the
    * WHOLE blob store every day (A2, ref `src/bak_unload.ps1:22-23`);
    * replaying that listing over history turns its one-shot semantics
    * into queryable operations data. Each order is a blob: uploaded on
    * its orderdate, sized by its integer-cent price, named
    * `backup_<yyyyMMdd>_<key%1e9 zero-padded>.zip` so lexicographic
    * order ≡ (date, key) order — the A6 "latest = max name" contract
    * (ref `:43-52`). A 90-day lifecycle policy deletes file f at
    * upload+90, so day d's live manifest is the adds in (d−90, d].
    * SHAPE AT SCALE: the per-day manifest is NEVER enumerated (a
    * day × live-file expansion is |days|·|files|); one hash agg
    * reduces the corpus to the per-day frame, and everything else is
    * the churn identity live(d) = live(d−1) + added(d) − expired(d) —
    * prefix windows over the model-sized day grid (gap days emit
    * explicit zero rows via sequence(), the backlog-model discipline). */
  private val ManifestTtlDays = 90
  private def manifestDaily(spark: SparkSession, dir: String): DataFrame = {
    val added = table(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("u"))
      .agg(count(lit(1)).as("n_add"),
        sum((col("o_totalprice").cast(Money) * 100).cast("long")).as("b_add"),
        // 9-digit key field: the sf1 soak corpus has 1.5M orders, so a
        // %1e6 pad would wrap and break the lexicographic ≡ (date, key)
        // A6 claim at the scale actually soaked (ADVICE r12)
        max(pmod(col("o_orderkey"), lit(1000000000L))).as("k_max"))
    val span = added.agg(min(col("u")).as("d0"), max(col("u")).as("d1"))
    span.select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      .join(added.withColumnRenamed("u", "d"), Seq("d"), "left")
      .join(added.select(date_add(col("u"), ManifestTtlDays).as("d"),
          col("n_add").as("n_exp"), col("b_add").as("b_exp")),
        Seq("d"), "left")
      .select(col("d"),
        coalesce(col("n_add"), lit(0L)).as("n_add"),
        coalesce(col("b_add"), lit(0L)).as("b_add"),
        coalesce(col("n_exp"), lit(0L)).as("n_exp"),
        coalesce(col("b_exp"), lit(0L)).as("b_exp"),
        col("k_max"))
  }

  /** Manifest history: per day, files/bytes added, expired (TTL), and
    * live, plus the churn ratio — what the reference's daily `azcopy
    * list` would have seen, as a time series. See [[manifestDaily]] for
    * the churn-identity shape argument. */
  def manifestHistory(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    manifestDaily(spark, dir)
      .withColumn("n_live", sum(col("n_add") - col("n_exp")).over(w))
      .withColumn("b_live", sum(col("b_add") - col("b_exp")).over(w))
      .select(dateS(col("d")).as("d"),
        col("n_add").as("n_added"), col("n_exp").as("n_expired"),
        col("n_live"), col("b_add").as("bytes_added"),
        col("b_live").as("bytes_live"),
        r6(when(col("n_live") > 0, (col("n_add") + col("n_exp"))
          .cast("double") / col("n_live").cast("double"))).as("churn_ratio"))
      .orderBy("d")
  }

  /** [[manifestDaily]] + the A6 pick: per day, the lexicographically
    * greatest live filename. Names embed (date, key), so the per-day
    * max name reduces to the per-day max key, and the pick over the
    * live set is a 90-row sliding max over the DAY GRID — never a
    * day × file expansion. max() skips nulls, so empty days inherit
    * the window's latest file; a fully-empty window leaves a null pick
    * (the A5 empty-guard case). */
  private def manifestPickFrame(spark: SparkSession, dir: String): DataFrame = {
    val w90 = Window.orderBy("d").rowsBetween(-(ManifestTtlDays - 1), 0)
    manifestDaily(spark, dir)
      .withColumn("day_name",
        when(col("k_max").isNotNull,
          concat(lit("backup_"), date_format(col("d"), "yyyyMMdd"), lit("_"),
            lpad(col("k_max").cast("string"), 9, "0"), lit(".zip"))))
      .withColumn("pick", max(col("day_name")).over(w90))
  }

  /** A6 over time: what the reference's sort-desc-top-1 would pick on
    * each day, with the pick's age — the freshness readout its runbook
    * asks for. Age can step UP when the latest file expires before a
    * newer one arrives (the pick legitimately regresses to an older
    * live file). */
  def manifestPick(spark: SparkSession, dir: String): DataFrame = {
    val pickDate = to_date(substring(col("pick"), 8, 8), "yyyyMMdd")
    manifestPickFrame(spark, dir)
      .select(dateS(col("d")).as("d"), col("pick"),
        datediff(col("d"), pickDate).cast("long").as("pick_age_days"),
        (col("pick").isNotNull && datediff(col("d"), pickDate) > 0)
          .as("is_stale"))
      .orderBy("d")
  }

  /** A7 over time: replay the seen-set ledger. Each daily run imports
    * its pick iff it differs from the last imported name (the
    * reference's one-line state file, ref `src/bak_unload.ps1:57-66`);
    * a null pick is the A5 abort (no import, but the run still counts).
    * Output: per-day pick, imported flag, cumulative imports, and the
    * re-list efficiency (imports per run — how much of the daily
    * re-listing the seen-set check discards). One lag + two prefix
    * windows over the day grid. */
  def seenLedger(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.orderBy("d")
    val acc = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    manifestPickFrame(spark, dir)
      .withColumn("prev", lag(col("pick"), 1).over(ord))
      .withColumn("imported",
        col("pick").isNotNull &&
          (col("prev").isNull || col("pick") =!= col("prev")))
      .withColumn("runs_todate", row_number().over(ord).cast("long"))
      .withColumn("imports_todate",
        sum(col("imported").cast("long")).over(acc))
      .select(dateS(col("d")).as("d"), col("pick"), col("imported"),
        col("imports_todate"), col("runs_todate"),
        r6(col("imports_todate").cast("double") /
          col("runs_todate").cast("double")).as("import_rate"))
      .orderBy("d")
  }

  /** A5's rejected rows, accounted: per (ship day, reason), how many
    * lineitem rows a quarantine policy would dead-letter, with the
    * day's reject rate. Reasons are MULTI-LABEL (one row can trip
    * several checks — each lands in its own ledger row, the dead-letter
    * convention that keeps per-reason counts reconcilable), spelled as
    * an array of when()s filtered non-null then exploded; day totals
    * (including clean rows) come from a day-grain twin agg joined on
    * the date, never a second corpus scan per reason. */
  def deadLetterDaily(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "lineitem")
      .select(to_date(col("l_shipdate")).as("d"),
        array(
          when(col("l_quantity") >= 49, lit("qty_ceiling")),
          when(col("l_discount") > 0.08, lit("deep_discount")),
          when(col("l_tax") === 0.0, lit("zero_tax"))).as("rs"))
    val tot = base.groupBy("d").agg(count(lit(1)).as("n_day"))
    base
      .select(col("d"),
        explode(expr("filter(rs, x -> x IS NOT NULL)")).as("reason"))
      .groupBy("d", "reason").agg(count(lit(1)).as("n_rejected"))
      .join(tot, "d")
      .select(dateS(col("d")).as("d"), col("reason"), col("n_rejected"),
        r6(col("n_rejected").cast("double") / col("n_day").cast("double"))
          .as("reject_rate"))
      .orderBy("d", "reason")
  }

  /** From gap detection to an EXECUTABLE backfill plan: days with no
    * urgent-F order (a naturally incomplete slice at every sf — the
    * urgent∧F probability is 1/15 per order) are grouped into
    * contiguous runs via the date-minus-row-number islands trick, and
    * each run is chunked into ≤7-day batches — the shape a scheduler
    * consumes. The island/chunk windows run over the ≤|days| missing
    * frame (model-sized: the day grid is calendar-bounded); the only
    * corpus-sized work is one distinct + one anti join. */
  def backfillPlan(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val observed = o
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderstatus") === "F")
      .select(to_date(col("o_orderdate")).as("d")).distinct()
    val span = o.agg(to_date(min(col("o_orderdate"))).as("d0"),
      to_date(max(col("o_orderdate"))).as("d1"))
    val missing = span
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      .join(observed, Seq("d"), "left_anti")
    val ord = Window.orderBy("d")
    val batches = missing
      .withColumn("island", date_sub(col("d"), row_number().over(ord)))
      .withColumn("pos",
        row_number().over(Window.partitionBy("island").orderBy("d")))
      .withColumn("chunk", expr("(pos - 1) div 7"))
      .groupBy("island", "chunk")
      .agg(min(col("d")).as("b0"), max(col("d")).as("b1"),
        count(lit(1)).as("n_days"))
    batches
      .withColumn("island_start",
        min(col("b0")).over(Window.partitionBy("island")))
      .select(dateS(col("b0")).as("batch_start"),
        dateS(col("b1")).as("batch_end"), col("n_days"),
        dateS(col("island_start")).as("island_start"))
      .orderBy("batch_start")
  }

  /** Engine-portable Bloom-filter false-positive audit — the
    * [[Dedup.lshCalibration]] genre for the bloom-prefilter family:
    * build the SAME word-bitmap bloom at three sizings (k = 3 md5-seeded
    * hashes into 63-bit words, the [[bitmapIndex]] layout) over the
    * urgent-F customer set, probe with EVERY customer, and report the
    * measured FPP per sizing. Spark's native bloom
    * ([[Relational.joinBloomPrefilter]]) has no DuckDB twin, so this
    * audit spells the filter entirely in md5 + integer ops both engines
    * share — which is also what makes it portable to any engine a
    * 100 TB pipeline hands these words to. Membership probes join the
    * broadcast word frame (≤ 1 344 rows); no false negative is possible
    * by construction (asserted in the spec). */
  def bloomFppAudit(spark: SparkSession, dir: String): DataFrame = {
    val k = 3
    val sizings = Seq(64L, 256L, 1024L) // 63-bit words per filter
    def hashL(key: Column, i: Int): Column =
      conv(substring(md5(concat(lit(s"bf$i|"), key.cast("string"))
        .cast("binary")), 1, 12), 16, 10).cast("long")
    def withBits(df: DataFrame): DataFrame = df
      .select(col("key"), col("nb"),
        explode(array((0 until k).map(i =>
          pmod(hashL(col("key"), i), col("nb") * lit(63L))): _*)).as("idx"))
      .select(col("key"), col("nb"), expr("idx div 63").as("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 63 AS INT))").as("mask"))
    val members = table(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F" &&
        col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("key")).distinct()
    val sizs = array(sizings.map(lit): _*)
    val words = withBits(members.select(col("key"), explode(sizs).as("nb")))
      .groupBy("nb", "bucket").agg(expr("bit_or(mask)").as("w"))
    val probes = table(spark, dir, "customer")
      .select(col("c_custkey").as("key"), explode(sizs).as("nb"))
    val maybe = withBits(probes)
      .join(broadcast(words), Seq("nb", "bucket"), "left")
      .select(col("nb"), col("key"),
        when(col("w").isNotNull && (col("w").bitwiseAND(col("mask"))) =!= 0,
          1L).otherwise(0L).as("hit"))
      .groupBy("nb", "key").agg((sum(col("hit")) === k).as("maybe"))
    maybe
      .join(members.withColumn("is_member", lit(true)), Seq("key"), "left")
      .groupBy("nb").agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("is_member"), 1L).otherwise(0L)).as("n_members"),
        sum(when(coalesce(col("is_member"), lit(false)) === false &&
          col("maybe"), 1L).otherwise(0L)).as("n_fp"),
        sum(when(coalesce(col("is_member"), lit(false)) === false, 1L)
          .otherwise(0L)).as("n_nonmembers"))
      .select((col("nb") * 63).as("m_bits"), col("n_members"),
        col("n_nonmembers"), col("n_fp"),
        r6(when(col("n_nonmembers") > 0,
          col("n_fp").cast("double") / col("n_nonmembers").cast("double")))
          .as("fpp"))
      .orderBy("m_bits")
  }

  /** Population Stability Index drift audit — the serving-vs-training
    * distribution check a feature pipeline runs per release: order
    * totals split at the date-span midpoint into a REFERENCE window and
    * a CURRENT window, the reference min/max fixes ten equal-width
    * cent bins (production PSI discipline: bin edges freeze at training
    * time; out-of-range current values clamp into the edge bins), and
    * PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) with add-0.5 smoothing so
    * an empty bin stays finite. Shape at scale: the corpus reduces in
    * ONE conditional hash agg to the 10-bin frame; the totals window
    * and the PSI sum run over that model-sized frame. Binning is exact
    * integer arithmetic ((c−lo)·10 div (hi−lo+1) on clamped cents — no
    * float boundary, and the div avoids DuckDB's floor-vs-truncate
    * divergence by keeping operands non-negative); each bin's ln-ratio
    * is r6/DECIMAL-fixed so the total is order-independent. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders").select(
      to_date(col("o_orderdate")).as("d"),
      (col("o_totalprice").cast(Money) * 100).cast("long").as("cents"))
    val mid = o.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))").as("mid"))
    val tagged = o.crossJoin(broadcast(mid))
      .withColumn("cur", col("d") > col("mid"))
    val refMm = tagged.filter(!col("cur"))
      .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    val counts = tagged.crossJoin(broadcast(refMm))
      .withColumn("cc", greatest(col("lo"), least(col("hi"), col("cents"))))
      .withColumn("bin", expr("((cc - lo) * 10) div (hi - lo + 1)"))
      .groupBy("bin").agg(
        sum(when(!col("cur"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("cur"), 1L).otherwise(0L)).as("n_cur"))
    val grid = spark.range(10).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val pr = (col("n_ref").cast("double") + lit(0.5)) /
      (col("tr").cast("double") + lit(5.0))
    val pc = (col("n_cur").cast("double") + lit(0.5)) /
      (col("tc").cast("double") + lit(5.0))
    grid
      .withColumn("tr", sum(col("n_ref")).over(tot))
      .withColumn("tc", sum(col("n_cur")).over(tot))
      .withColumn("term", r6((pc - pr) *
        r6(log(pc / pr)).cast(DecimalType(16, 6)).cast("double"))
        .cast(DecimalType(16, 6)))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        r6(pr).as("p_ref"), r6(pc).as("p_cur"),
        col("term").cast("double").as("psi_term"),
        r6(sum(col("term")).over(tot).cast("double")).as("psi_total"))
      .orderBy("bin")
  }

  /** Zone-map (min/max file-stats) skipping audit — the lakehouse
    * question behind [[zorderLayout]] and every clustering decision:
    * under the CURRENT physical layout, how many files would a
    * month-predicate scan actually open, versus how many contain
    * matching rows, versus the ideal a shipdate-clustered layout would
    * read? Files are modeled as l_orderkey div 256 slices (insertion
    * order — the natural-arrival proxy); per file ONE hash agg collects
    * min/max shipdate plus the three probe months' hit counts, and the
    * audit rolls up over that file-stats frame (model-sized at any
    * corpus: #files, not #rows). `n_overlap − n_files_hit` counts the
    * FALSE-POSITIVE opens — the clustering-debt number; `ideal_files`
    * is the exact-integer ceiling of matching rows over the mean file
    * size. Probe months are data-derived (min date + 12/24/36 months)
    * so the audit runs on any corpus span. */
  def zoneMapAudit(spark: SparkSession, dir: String): DataFrame = {
    val ks = Seq(12, 24, 36)
    val li0 = table(spark, dir, "lineitem").select(
      expr("l_orderkey div 256").as("file_id"),
      to_date(col("l_shipdate")).as("sd"))
    val d0f = li0.agg(min(col("sd")).as("d0"))
    val hitCols = ks.map { k =>
      val ms = add_months(trunc(col("d0"), "MM"), k)
      sum(when(col("sd") >= ms && col("sd") < add_months(ms, 1), 1L)
        .otherwise(0L)).as(s"hit$k")
    }
    val baseAggs = Seq(min(col("sd")).as("lo"), max(col("sd")).as("hi"),
      count(lit(1)).as("nr"), max(col("d0")).as("d0")) ++ hitCols
    val files = li0.crossJoin(broadcast(d0f))
      .groupBy("file_id").agg(baseAggs.head, baseAggs.tail: _*)
    files
      .select(col("lo"), col("hi"), col("nr"), col("d0"),
        explode(array(ks.map(k => struct(lit(k.toLong).as("k"),
          col(s"hit$k").as("hits"))): _*)).as("m"))
      .select(col("lo"), col("hi"), col("nr"),
        col("m.k").as("k"), col("m.hits").as("hits"),
        add_months(trunc(col("d0"), "MM"), col("m.k").cast("int")).as("ms"))
      .withColumn("me", add_months(col("ms"), 1))
      .groupBy("k", "ms").agg(
        count(lit(1)).as("n_files"),
        sum(when(col("lo") < col("me") && col("hi") >= col("ms"), 1L)
          .otherwise(0L)).as("n_overlap"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_files_hit"),
        sum(col("hits")).as("rows_match"),
        sum(col("nr")).as("total_rows"))
      .select(col("k"), dateS(col("ms")).as("month"), col("n_files"),
        col("n_overlap"), col("n_files_hit"), col("rows_match"),
        expr("(rows_match * n_files + total_rows - 1) div total_rows")
          .as("ideal_files"),
        r6(lit(1.0) - col("n_overlap").cast("double") /
          col("n_files").cast("double")).as("skip_frac"))
      .orderBy("k")
  }

  /** A14 restart/recovery as a batch model (VERDICT r12 ask #7): the
    * reference commits its seen-ledger LAST, so a crash after processing
    * but before commit replays the whole day — at-least-once, made
    * idempotent by the per-file ledger anti-join. The model: daily runs
    * process the files added since the last committed watermark
    * ((wm, d] catch-up window) minus what the ledger already has; on
    * CRASH DAY X (span midpoint) the run ledgers only even-key files
    * and dies before the watermark commit, so day X+1's window re-spans
    * day X — its even-key files are SKIPPED by the ledger (idempotence),
    * its odd-key files are REPROCESSED (the at-least-once cost, counted
    * in n_reprocessed), and the final ledger equals the no-crash run's
    * (convergence — the property the oracle gates). Shape at scale: one
    * hash agg to the per-day frame; lag/cumsum over the calendar grid. */
  def ledgerReplay(spark: SparkSession, dir: String): DataFrame = {
    val adds = table(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("u"))
      .agg(count(lit(1)).as("n_add"),
        sum(pmod(col("o_orderkey"), lit(2L))).as("n_odd"))
    val grid = adds.agg(min(col("u")).as("d0"), max(col("u")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"),
        expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))").as("x"))
    val ord = Window.orderBy("d")
    val acc = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(adds.withColumnRenamed("u", "d"), Seq("d"), "left")
      .select(col("d"), col("x"),
        coalesce(col("n_add"), lit(0L)).as("n_add"),
        coalesce(col("n_odd"), lit(0L)).as("n_odd"))
      .withColumn("p_add", coalesce(lag(col("n_add"), 1).over(ord), lit(0L)))
      .withColumn("p_odd", coalesce(lag(col("n_odd"), 1).over(ord), lit(0L)))
      .withColumn("is_x", col("d") === col("x"))
      .withColumn("is_x1", col("d") === date_add(col("x"), 1))
      .withColumn("n_window",
        col("n_add") + when(col("is_x1"), col("p_add")).otherwise(0L))
      .withColumn("n_skipped",
        when(col("is_x1"), col("p_add") - col("p_odd")).otherwise(0L))
      .withColumn("n_processed", col("n_window") - col("n_skipped"))
      .withColumn("n_reprocessed",
        when(col("is_x1"), col("p_odd")).otherwise(0L))
      .withColumn("n_committed",
        when(col("is_x"), col("n_add") - col("n_odd"))
          .otherwise(col("n_processed")))
      .withColumn("ledger_size", sum(col("n_committed")).over(acc))
      .withColumn("wm", when(col("is_x"), date_sub(col("d"), 1))
        .otherwise(col("d")))
      .select(dateS(col("d")).as("d"), col("n_window"), col("n_skipped"),
        col("n_processed"), col("n_reprocessed"), col("n_committed"),
        col("ledger_size"), dateS(col("wm")).as("watermark"))
      .orderBy("d")
  }

  /** Seen-ledger COMPACTION under a retention horizon — the lifecycle
    * half [[seenLedger]] is missing (VERDICT r13 #3): the reference's A7
    * state file (`src/bak_unload.ps1:57-66`) only ever APPENDS imported
    * names, so its state grows forever. A production ledger compacts: a
    * daily job keeps the last [[LedgerRetentionDays]] days of entries
    * verbatim (they can still collide with late re-deliveries) and folds
    * everything older into ONE checkpoint row (count + watermark) —
    * dedup correctness needs only "was this seen since the horizon",
    * because the at-least-once replayer ([[ledgerReplay]]) never re-offers
    * items older than its own watermark. Per day: total entries ever,
    * live rows, the fold count, the checkpoint watermark, and the
    * compaction ratio a capacity planner alerts on. Shape at scale: the
    * corpus collapses to the ≤|days| daily frame first; the windows run
    * on the calendar-bounded grid (the ledgerReplay discipline), never
    * raw rows. */
  def stateCompaction(spark: SparkSession, dir: String): DataFrame = {
    val adds = table(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("u"))
      .agg(count(lit(1)).as("n_add"))
    val grid = adds.agg(min(col("u")).as("d0"), max(col("u")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    val ord = Window.orderBy("d")
    val acc = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val live = ord.rowsBetween(-(LedgerRetentionDays - 1), 0)
    grid.join(adds.withColumnRenamed("u", "d"), Seq("d"), "left")
      .select(col("d"), coalesce(col("n_add"), lit(0L)).as("n_add"))
      .withColumn("entries_total", sum(col("n_add")).over(acc))
      .withColumn("live_entries", sum(col("n_add")).over(live))
      .withColumn("folded_entries", col("entries_total") - col("live_entries"))
      .withColumn("state_rows", col("live_entries") +
        when(col("folded_entries") > 0, 1L).otherwise(0L))
      .select(dateS(col("d")).as("d"), col("n_add"), col("entries_total"),
        col("live_entries"), col("folded_entries"), col("state_rows"),
        when(col("folded_entries") > 0,
          dateS(date_sub(col("d"), LedgerRetentionDays)))
          .as("checkpoint_watermark"),
        when(col("entries_total") > 0,
          r6(col("state_rows").cast("double") /
            col("entries_total").cast("double"))).as("state_ratio"))
      .orderBy("d")
  }

  private val LedgerRetentionDays = 30

  /** Write-once zip corpus for [[zipEntryStats]]: every document becomes
    * an entry `d<doc_id lpad 9>.txt` in its source's archive
    * `<source>.zip` — the A8/A9 fetch+decompress surface, built the way
    * a 100 TB pipeline writes shard archives: DISTRIBUTED (repartition
    * by source, each task streams its sources' entries through one
    * ZipOutputStream at a time — never a driver-side loop over the
    * corpus), deterministic entry order (sortWithinPartitions), content
    * keyed so a regenerated fixture rebuilds into a fresh directory. */
  private def zipTable(spark: SparkSession, dir: String): String =
    CorpusScope.persisted("zipScratch", spark, dir, "documents") { a =>
      val out = new java.io.File(a.path("z"))
      out.mkdirs()
      val outPath = out.getAbsolutePath
      table(spark, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"))
        .repartition(col("source"))
        .sortWithinPartitions("source", "doc_id")
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          import java.util.zip.{ZipEntry, ZipOutputStream}
          var zos: ZipOutputStream = null
          var cur: String = null
          try rows.foreach { r =>
            val src = r.getString(0)
            if (src != cur) {
              if (zos != null) zos.close()
              zos = new ZipOutputStream(
                new java.io.FileOutputStream(s"$outPath/$src.zip"))
              cur = src
            }
            zos.putNextEntry(new ZipEntry(
              "d" + "%09d".format(r.getLong(1)) + ".txt"))
            zos.write(r.getString(2).getBytes("UTF-8"))
            zos.closeEntry()
          } finally if (zos != null) zos.close()
        }
      outPath
    }

  /** The A8 fetch + A9 decompress path as a DECLARED differential query
    * (VERDICT r12 ask #7 — this surface was unit-tested only): documents
    * round-trip through real zip archives and come back through the
    * [[graft.sources.ZipEntriesSource]] DSv2 connector; the oracle
    * recomputes every number straight from the documents parquet, so
    * entry naming, byte counts, and content fidelity across the
    * compress→decompress hop are all hash-gated. Two scans by design:
    * the per-archive manifest aggregate projects only
    * (archive, entry, n_bytes) — the connector's column pruning serves
    * it from zip central directories, ZERO bytes decompressed (the
    * plan-locked A10 manifest discipline) — while the content checksum
    * probe decompresses only the 1/16 doc_id sample, md5-reduced to one
    * order-independent sum per archive. */
  def zipEntryStats(spark: SparkSession, dir: String): DataFrame = {
    val zdir = zipTable(spark, dir)
    val entries = spark.read
      .format("graft.sources.ZipEntriesSource").load(zdir)
    val meta = entries.select("archive", "entry", "n_bytes")
      .groupBy("archive").agg(
        count(lit(1)).as("n_entries"),
        sum(col("n_bytes")).as("bytes_total"),
        min(col("entry")).as("entry_min"),
        max(col("entry")).as("entry_max"))
    val chk = entries
      .withColumn("doc_id", expr("CAST(substring(entry, 2, 9) AS BIGINT)"))
      .filter(pmod(col("doc_id"), lit(16L)) === 0)
      .select(col("archive"),
        conv(substring(md5(col("content")), 1, 12), 16, 10)
          .cast("long").as("h"))
      .groupBy("archive").agg(count(lit(1)).as("n_checked"),
        sum(col("h")).as("content_check"))
    meta.join(chk, Seq("archive"), "left")
      .select(col("archive"), col("n_entries"), col("bytes_total"),
        col("entry_min"), col("entry_max"),
        coalesce(col("n_checked"), lit(0L)).as("n_checked"),
        coalesce(col("content_check"), lit(0L)).as("content_check"))
      .orderBy("archive")
  }

  /** One Derby snapshot DB per corpus, write-once: the value is the JDBC
    * url whose snapshot table is already loaded. Content-keyed so a
    * regenerated fixture reloads instead of serving a stale snapshot. */

  /** End-to-end differential gate for the reference's load path (A11
    * DROP-before-load / A12 RESTORE / A14 commit, ref
    * `src/bak_unload.ps1:90-116`): the supplier table rides
    * [[graft.sources.JdbcSnapshot.snapshotOverwrite]] into an embedded
    * Derby (the sandbox stand-in for SQL Server — T-SQL spellings stay
    * behind `SnapshotDialect`), comes back through the range-partitioned
    * [[graft.sources.JdbcSnapshot.readTable]], and is aggregated
    * per-nation; the oracle runs the same aggregate on the BASE parquet,
    * so any value/row/type corruption across the JDBC write→read hop
    * fails the driver's hash compare. VERDICT r12 ask #5: this was the
    * one reference surface verified only by unit specs. Shape at scale:
    * the snapshot write batches over at most 8 connections, no shuffle
    * (one per input partition, so a one-file supplier scan is one
    * writer); the read-back splits the key range across 8 executor-side
    * slices; balance cents quantize
    * in DOUBLE (floor(x·100 + 0.5) — the float→decimal trap) before the
    * exact integer sum. Write-once per corpus: iteration 1 pays the
    * load, later calls serve the read path (buildOnce in Bench). */
  def jdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.JdbcSnapshot
    val key = "jdbcrt|" + dirContentKey(dir, "supplier.parquet")
    val url = CorpusScope.cached("jdbcSnap", key) {
      val u = s"jdbc:derby:memory:graftrt_${key.take(12)};create=true"
      JdbcSnapshot.snapshotOverwrite(
        table(spark, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        u, "supplier_snap")
      u
    }
    val maxKey = table(spark, dir, "supplier")
      .agg(max(col("s_suppkey"))).head.getLong(0)
    JdbcSnapshot.readTable(spark, url, "supplier_snap",
        "s_suppkey", 1L, maxKey.max(2L), 8)
      .groupBy(col("s_nationkey").cast("int").as("s_nationkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col("s_acctbal") * 100 + 0.5)).as("bal_cents"),
        min(col("s_name")).as("name_min"),
        max(col("s_name")).as("name_max"))
      .orderBy("s_nationkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_jdbc_roundtrip" -> (jdbcRoundtrip _),
    "pipe_zip_entry_stats" -> (zipEntryStats _),
    "pipe_psi_drift" -> (psiDrift _),
    "pipe_zone_map_audit" -> (zoneMapAudit _),
    "pipe_ledger_replay" -> (ledgerReplay _),
    "pipe_state_compaction" -> (stateCompaction _),
    "pipe_manifest_history" -> (manifestHistory _),
    "pipe_manifest_pick" -> (manifestPick _),
    "pipe_seen_ledger" -> (seenLedger _),
    "pipe_dead_letter_daily" -> (deadLetterDaily _),
    "pipe_backfill_plan" -> (backfillPlan _),
    "pipe_bloom_fpp_audit" -> (bloomFppAudit _),
    "pipe_shard_plan" -> (pipeShardPlan _),
    "pipe_mixture_weights" -> (pipeMixtureWeights _),
    "pipe_gdpr_forget" -> (pipeGdprForget _),
    "pipe_freshness_sla" -> (pipeFreshnessSla _),
    "pipe_datagen_profile" -> (pipeDatagenProfile _),
    "pipe_mv_incremental" -> (pipeMvIncremental _),
    "pipe_sample_weighted" -> (pipeSampleWeighted _),
    "pipe_skew_report" -> (pipeSkewReport _),
    "pipe_analyze_stats" -> (pipeAnalyzeStats _),
    "pipe_curriculum_order" -> (pipeCurriculumOrder _),
    "pipe_delta_log" -> (deltaLog _),
    "pipe_delta_history" -> (deltaHistory _),
    "pipe_vacuum_plan" -> (vacuumPlan _),
    "pipe_split_train_test" -> (splitTrainTest _),
    "pipe_csv_roundtrip" -> (csvRoundtrip _),
    "pipe_json_roundtrip" -> (jsonRoundtrip _),
    "pipe_orc_roundtrip" -> (orcRoundtrip _),
    "pipe_avro_roundtrip" -> (avroRoundtrip _),
    "pipe_schema_evolution" -> (schemaEvolution _),
    "pipe_compaction_bins" -> (compactionBins _),
    "pipe_zorder_layout" -> (zorderLayout _),
    "pipe_rollup_merge" -> (rollupMerge _),
    "pipe_quality_checks" -> (qualityChecks _),
    "pipe_gap_detect" -> (gapDetect _),
    "pipe_upsert_cdc" -> (upsertCdc _),
    "pipe_snapshot_diff" -> (snapshotDiff _),
    "pipe_scd2_intervals" -> (scd2Intervals _),
    "pipe_sample_hash" -> (sampleHash _),
    "pipe_sample_stratified" -> (sampleStratified _),
    "pipe_profile_columns" -> (profileColumns _),
    "pipe_latest_snapshot" -> (latestSnapshot _),
    "pipe_filter_contains" -> (filterContains _),
    "pipe_parse_project" -> (parseProject _),
    "pipe_incremental_anti" -> (incrementalAnti _),
    "pipe_partition_prune" -> (partitionPrune _),
    "join_prune_dynamic" -> (joinPruneDynamic _),
    "pipe_table_checksum" -> (tableChecksum _),
    "pipe_bitmap_index" -> (bitmapIndex _),
    "pipe_token_budget_sample" -> (tokenBudgetSample _),
    "pipe_quarantine_split" -> (quarantineSplit _),
    "pipe_sample_topk_hash" -> (sampleTopkHash _))

  /** Shared manifest-replay CTEs (oracle twin of [[manifestDaily]] +
    * [[manifestPickFrame]]): per-day adds with the max zero-padded key
    * name, the full day grid, the TTL-shifted expirations, and the
    * 90-day sliding pick. */
  private def manifestSqlPreamble: String =
    s"""added AS (SELECT CAST(o_orderdate AS DATE) AS u, count(*) AS n_add,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
           AS BIGINT) AS b_add,
         CAST(max(o_orderkey % 1000000000) AS BIGINT) AS k_max
         FROM orders GROUP BY 1),
       span AS (SELECT min(u) AS d0, max(u) AS d1 FROM added),
       grid AS (SELECT CAST(unnest(generate_series(d0, d1,
           INTERVAL 1 DAY)) AS DATE) AS d FROM span),
       m AS (SELECT g.d,
         coalesce(a.n_add, 0) AS n_add, coalesce(a.b_add, 0) AS b_add,
         coalesce(e.n_add, 0) AS n_exp, coalesce(e.b_add, 0) AS b_exp,
         a.k_max
         FROM grid g
         LEFT JOIN added a ON a.u = g.d
         LEFT JOIN added e ON e.u + $ManifestTtlDays = g.d),
       pk AS (SELECT *,
         max(CASE WHEN k_max IS NOT NULL THEN
           'backup_' || strftime(d, '%Y%m%d') || '_' ||
           lpad(CAST(k_max AS VARCHAR), 9, '0') || '.zip' END)
           OVER (ORDER BY d ROWS BETWEEN ${ManifestTtlDays - 1} PRECEDING
             AND CURRENT ROW) AS pick
         FROM m)"""

  val oracleSql: Map[String, String] = Map(
    // The Spark side went parquet → zip archives → DSv2 zip scan; the
    // oracle recomputes manifest and checksum numbers from the documents
    // parquet alone, gating the compress→decompress hop end-to-end.
    "pipe_zip_entry_stats" ->
      """WITH m AS (SELECT source || '.zip' AS archive, doc_id,
           CAST(strlen(text) AS BIGINT) AS nb,
           'd' || lpad(CAST(doc_id AS VARCHAR), 9, '0') || '.txt' AS entry,
           text
           FROM documents),
         meta AS (SELECT archive, CAST(count(*) AS BIGINT) AS n_entries,
             CAST(sum(nb) AS BIGINT) AS bytes_total,
             min(entry) AS entry_min, max(entry) AS entry_max
           FROM m GROUP BY archive),
         chk AS (SELECT archive, CAST(count(*) AS BIGINT) AS n_checked,
             CAST(sum(CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT))
               AS BIGINT) AS content_check
           FROM m WHERE doc_id % 16 = 0 GROUP BY archive)
         SELECT archive, n_entries, bytes_total, entry_min, entry_max,
           coalesce(n_checked, 0) AS n_checked,
           coalesce(content_check, 0) AS content_check
         FROM meta LEFT JOIN chk USING (archive)
         ORDER BY archive""",
    "pipe_psi_drift" ->
      s"""WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
           FROM orders),
         m AS (SELECT CAST(min(d) + (date_diff('day', min(d), max(d)) // 2)
             * INTERVAL 1 DAY AS DATE) AS mid FROM o),
         tagged AS (SELECT cents, d > mid AS cur FROM o, m),
         rmm AS (SELECT min(cents) AS lo, max(cents) AS hi
           FROM tagged WHERE NOT cur),
         counts AS (SELECT
             ((greatest(lo, least(hi, cents)) - lo) * 10) // (hi - lo + 1)
               AS bin,
             CAST(count(*) FILTER (NOT cur) AS BIGINT) AS n_ref,
             CAST(count(*) FILTER (cur) AS BIGINT) AS n_cur
           FROM tagged, rmm GROUP BY 1),
         grid AS (SELECT CAST(unnest(range(10)) AS BIGINT) AS bin),
         g AS (SELECT grid.bin, coalesce(n_ref, 0) AS n_ref,
             coalesce(n_cur, 0) AS n_cur
           FROM grid LEFT JOIN counts ON counts.bin = grid.bin),
         t AS (SELECT *, CAST(sum(n_ref) OVER () AS BIGINT) AS tr,
             CAST(sum(n_cur) OVER () AS BIGINT) AS tc FROM g),
         p AS (SELECT bin, n_ref, n_cur,
             (CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tr AS DOUBLE) + 5.0) AS pr,
             (CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + 5.0) AS pc
           FROM t),
         terms AS (SELECT bin, n_ref, n_cur, pr, pc,
             CAST(${r6Sql("(pc - pr) * CAST(CAST(" + r6Sql("ln(pc / pr)") + " AS DECIMAL(16,6)) AS DOUBLE)")}
               AS DECIMAL(16,6)) AS term
           FROM p)
         SELECT bin, n_ref, n_cur, ${r6Sql("pr")} AS p_ref,
           ${r6Sql("pc")} AS p_cur, CAST(term AS DOUBLE) AS psi_term,
           ${r6Sql("CAST(sum(term) OVER () AS DOUBLE)")} AS psi_total
         FROM terms ORDER BY bin""",
    "pipe_zone_map_audit" ->
      s"""WITH li AS (SELECT l_orderkey // 256 AS file_id,
           CAST(l_shipdate AS DATE) AS sd FROM lineitem),
         d0f AS (SELECT min(sd) AS d0 FROM li),
         files AS (SELECT file_id, min(sd) AS lo, max(sd) AS hi,
             count(*) AS nr, max(d0) AS d0,
             ${Seq(12, 24, 36).map(k =>
               s"""CAST(count(*) FILTER (
                  sd >= CAST(date_trunc('month', d0) + $k * INTERVAL 1 MONTH AS DATE)
                  AND sd < CAST(date_trunc('month', d0) + ${k + 1} * INTERVAL 1 MONTH AS DATE))
                  AS BIGINT) AS hit$k""").mkString(", ")}
           FROM li, d0f GROUP BY file_id),
         probes AS (${Seq(12, 24, 36).map(k =>
             s"""SELECT lo, hi, nr, CAST($k AS BIGINT) AS k, hit$k AS hits,
                CAST(date_trunc('month', d0) + $k * INTERVAL 1 MONTH AS DATE) AS ms,
                CAST(date_trunc('month', d0) + ${k + 1} * INTERVAL 1 MONTH AS DATE) AS me
                FROM files""").mkString(" UNION ALL ")})
         SELECT k, strftime(ms, '%Y-%m-%d') AS month,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(count(*) FILTER (lo < me AND hi >= ms) AS BIGINT) AS n_overlap,
           CAST(count(*) FILTER (hits > 0) AS BIGINT) AS n_files_hit,
           CAST(sum(hits) AS BIGINT) AS rows_match,
           CAST((sum(hits) * count(*) + sum(nr) - 1) // sum(nr) AS BIGINT) AS ideal_files,
           ${r6Sql("1.0 - CAST(count(*) FILTER (lo < me AND hi >= ms) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS skip_frac
         FROM probes GROUP BY k, ms ORDER BY k""",
    "pipe_state_compaction" ->
      s"""WITH adds AS (SELECT CAST(o_orderdate AS DATE) AS u,
           CAST(count(*) AS BIGINT) AS n_add FROM orders GROUP BY 1),
         span AS (SELECT min(u) AS d0, max(u) AS d1 FROM adds),
         grid AS (SELECT CAST(unnest(generate_series(d0, d1,
             INTERVAL 1 DAY)) AS DATE) AS d FROM span),
         g AS (SELECT g.d, coalesce(a.n_add, 0) AS n_add
           FROM grid g LEFT JOIN adds a ON a.u = g.d),
         w AS (SELECT d, CAST(n_add AS BIGINT) AS n_add,
             CAST(sum(n_add) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS entries_total,
             CAST(sum(n_add) OVER (ORDER BY d ROWS BETWEEN 29 PRECEDING
               AND CURRENT ROW) AS BIGINT) AS live_entries
           FROM g),
         s AS (SELECT *, entries_total - live_entries AS folded_entries
           FROM w)
         SELECT strftime(d, '%Y-%m-%d') AS d, n_add, entries_total,
           live_entries, CAST(folded_entries AS BIGINT) AS folded_entries,
           CAST(live_entries + CASE WHEN folded_entries > 0 THEN 1 ELSE 0
             END AS BIGINT) AS state_rows,
           CASE WHEN folded_entries > 0 THEN
             strftime(d - INTERVAL 30 DAY, '%Y-%m-%d') END
             AS checkpoint_watermark,
           CASE WHEN entries_total > 0 THEN
             ${r6Sql("""CAST(live_entries + CASE WHEN folded_entries > 0
               THEN 1 ELSE 0 END AS DOUBLE) / CAST(entries_total AS DOUBLE)""")}
             END AS state_ratio
         FROM s ORDER BY d""",
    "pipe_ledger_replay" ->
      s"""WITH adds AS (SELECT CAST(o_orderdate AS DATE) AS u,
           CAST(count(*) AS BIGINT) AS n_add,
           CAST(sum(o_orderkey % 2) AS BIGINT) AS n_odd
           FROM orders GROUP BY 1),
         span AS (SELECT min(u) AS d0, max(u) AS d1 FROM adds),
         grid AS (SELECT CAST(unnest(generate_series(d0, d1,
             INTERVAL 1 DAY)) AS DATE) AS d,
             CAST(d0 + (date_diff('day', d0, d1) // 2) * INTERVAL 1 DAY
               AS DATE) AS x
           FROM span),
         g AS (SELECT g.d, g.x, coalesce(a.n_add, 0) AS n_add,
             coalesce(a.n_odd, 0) AS n_odd
           FROM grid g LEFT JOIN adds a ON a.u = g.d),
         l AS (SELECT *,
             coalesce(lag(n_add, 1) OVER (ORDER BY d), 0) AS p_add,
             coalesce(lag(n_odd, 1) OVER (ORDER BY d), 0) AS p_odd,
             d = x AS is_x, d = x + INTERVAL 1 DAY AS is_x1
           FROM g),
         s AS (SELECT d,
             n_add + CASE WHEN is_x1 THEN p_add ELSE 0 END AS n_window,
             CASE WHEN is_x1 THEN p_add - p_odd ELSE 0 END AS n_skipped,
             CASE WHEN is_x1 THEN p_odd ELSE 0 END AS n_reprocessed,
             CASE WHEN is_x THEN n_add - n_odd
               WHEN is_x1 THEN n_add + p_odd
               ELSE n_add END AS n_committed,
             CASE WHEN is_x THEN d - INTERVAL 1 DAY ELSE d END AS wm
           FROM l)
         SELECT strftime(d, '%Y-%m-%d') AS d,
           CAST(n_window AS BIGINT) AS n_window,
           CAST(n_skipped AS BIGINT) AS n_skipped,
           CAST(n_window - n_skipped AS BIGINT) AS n_processed,
           CAST(n_reprocessed AS BIGINT) AS n_reprocessed,
           CAST(n_committed AS BIGINT) AS n_committed,
           CAST(sum(n_committed) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS BIGINT) AS ledger_size,
           strftime(wm, '%Y-%m-%d') AS watermark
         FROM s ORDER BY d""",
    // The Spark side went parquet → Derby → Spark agg; the oracle runs the
    // identical aggregate on the BASE parquet, so a pass proves the JDBC
    // write→read hop is value-faithful end-to-end.
    "pipe_jdbc_roundtrip" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS bal_cents,
         min(s_name) AS name_min, max(s_name) AS name_max
         FROM supplier GROUP BY 1 ORDER BY 1""",
    "pipe_manifest_history" ->
      s"""WITH $manifestSqlPreamble,
         r AS (SELECT d, n_add, n_exp, b_add,
           CAST(sum(n_add - n_exp) OVER w AS BIGINT) AS n_live,
           CAST(sum(b_add - b_exp) OVER w AS BIGINT) AS b_live
           FROM m WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW))
         SELECT strftime(d, '%Y-%m-%d') AS d,
           CAST(n_add AS BIGINT) AS n_added, CAST(n_exp AS BIGINT) AS n_expired,
           n_live, CAST(b_add AS BIGINT) AS bytes_added, b_live AS bytes_live,
           ${r6Sql("CASE WHEN n_live > 0 THEN CAST(n_add + n_exp AS DOUBLE) / CAST(n_live AS DOUBLE) END")}
             AS churn_ratio
         FROM r ORDER BY d""",
    "pipe_manifest_pick" ->
      s"""WITH $manifestSqlPreamble
         SELECT strftime(d, '%Y-%m-%d') AS d, pick,
           CAST(date_diff('day',
             CAST(strptime(substr(pick, 8, 8), '%Y%m%d') AS DATE), d)
             AS BIGINT) AS pick_age_days,
           pick IS NOT NULL AND date_diff('day',
             CAST(strptime(substr(pick, 8, 8), '%Y%m%d') AS DATE), d) > 0
             AS is_stale
         FROM pk ORDER BY d""",
    "pipe_seen_ledger" ->
      s"""WITH $manifestSqlPreamble,
         l AS (SELECT d, pick,
           pick IS NOT NULL AND (lag(pick) OVER (ORDER BY d) IS NULL
             OR pick <> lag(pick) OVER (ORDER BY d)) AS imported,
           row_number() OVER (ORDER BY d) AS runs_todate
           FROM pk),
         c AS (SELECT *,
           CAST(sum(CASE WHEN imported THEN 1 ELSE 0 END)
             OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) AS BIGINT) AS imports_todate
           FROM l)
         SELECT strftime(d, '%Y-%m-%d') AS d, pick, imported,
           imports_todate, runs_todate,
           ${r6Sql("CAST(imports_todate AS DOUBLE) / CAST(runs_todate AS DOUBLE)")}
             AS import_rate
         FROM c ORDER BY d""",
    "pipe_dead_letter_daily" ->
      s"""WITH base AS (SELECT CAST(l_shipdate AS DATE) AS d,
           [CASE WHEN l_quantity >= 49 THEN 'qty_ceiling' END,
            CASE WHEN l_discount > 0.08 THEN 'deep_discount' END,
            CASE WHEN l_tax = 0.0 THEN 'zero_tax' END] AS rs
           FROM lineitem),
         tot AS (SELECT d, count(*) AS n_day FROM base GROUP BY 1),
         rej AS (SELECT d,
           unnest(list_filter(rs, x -> x IS NOT NULL)) AS reason
           FROM base),
         g AS (SELECT d, reason, count(*) AS n_rejected
           FROM rej GROUP BY 1, 2)
         SELECT strftime(g.d, '%Y-%m-%d') AS d, reason,
           n_rejected,
           ${r6Sql("CAST(n_rejected AS DOUBLE) / CAST(n_day AS DOUBLE)")}
             AS reject_rate
         FROM g JOIN tot ON tot.d = g.d
         ORDER BY d, reason""",
    "pipe_backfill_plan" ->
      s"""WITH observed AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
           FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'),
         span AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
           CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
         missing AS (SELECT g.d FROM (SELECT CAST(unnest(generate_series(
             d0, d1, INTERVAL 1 DAY)) AS DATE) AS d FROM span) g
           WHERE NOT EXISTS (SELECT 1 FROM observed o WHERE o.d = g.d)),
         isl AS (SELECT d,
           d - CAST(row_number() OVER (ORDER BY d) AS INTEGER) AS island
           FROM missing),
         pos AS (SELECT d, island,
           (row_number() OVER (PARTITION BY island ORDER BY d) - 1) // 7
             AS chunk
           FROM isl),
         b AS (SELECT island, chunk, min(d) AS b0, max(d) AS b1,
           count(*) AS n_days FROM pos GROUP BY 1, 2),
         f AS (SELECT *, min(b0) OVER (PARTITION BY island) AS island_start
           FROM b)
         SELECT strftime(b0, '%Y-%m-%d') AS batch_start,
           strftime(b1, '%Y-%m-%d') AS batch_end, n_days,
           strftime(island_start, '%Y-%m-%d') AS island_start
         FROM f ORDER BY batch_start""",
    "pipe_bloom_fpp_audit" -> {
      def hashSql(i: Int) =
        s"CAST(('0x' || substr(md5('bf$i|' || CAST(key AS VARCHAR)), 1, 12)) AS BIGINT)"
      val idxRows = (0 until 3)
        .map(i => s"(${hashSql(i)} % (nb * 63))").mkString("[", ", ", "]")
      s"""WITH members AS (SELECT DISTINCT o_custkey AS key FROM orders
           WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'),
         sizs AS (SELECT unnest([64, 256, 1024]) AS nb),
         mbits AS (SELECT key, nb, unnest($idxRows) AS idx
           FROM members CROSS JOIN sizs),
         words AS (SELECT nb, idx // 63 AS bucket,
           bit_or(CAST(1 AS BIGINT) << CAST(idx % 63 AS INTEGER)) AS w
           FROM mbits GROUP BY 1, 2),
         pbits AS (SELECT key, nb, unnest($idxRows) AS idx
           FROM (SELECT c_custkey AS key FROM customer) CROSS JOIN sizs),
         hits AS (SELECT p.nb, p.key,
           CASE WHEN w.w IS NOT NULL
             AND (w.w & (CAST(1 AS BIGINT) << CAST(p.idx % 63 AS INTEGER))) <> 0
             THEN 1 ELSE 0 END AS hit
           FROM pbits p LEFT JOIN words w
             ON w.nb = p.nb AND w.bucket = p.idx // 63),
         mb AS (SELECT nb, key, sum(hit) = 3 AS maybe
           FROM hits GROUP BY 1, 2),
         t AS (SELECT mb.nb, mb.key, mb.maybe,
           m.key IS NOT NULL AS is_member
           FROM mb LEFT JOIN members m ON m.key = mb.key),
         agg AS (SELECT nb, count(*) AS n_probes,
           CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(sum(CASE WHEN NOT is_member AND maybe THEN 1 ELSE 0 END)
             AS BIGINT) AS n_fp,
           CAST(sum(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonmembers
           FROM t GROUP BY 1)
         SELECT CAST(nb * 63 AS BIGINT) AS m_bits, n_members, n_nonmembers,
           n_fp,
           ${r6Sql("CASE WHEN n_nonmembers > 0 THEN CAST(n_fp AS DOUBLE) / CAST(n_nonmembers AS DOUBLE) END")}
             AS fpp
         FROM agg ORDER BY m_bits"""
    },
    // the textbook single-window prefix sum — the equivalence proof for
    // the engine's two-level distributed spelling
    "pipe_shard_plan" ->
      s"""WITH d AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
           FROM documents),
         c AS (SELECT doc_id, tok,
           coalesce(CAST(sum(tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS cum
           FROM d)
         SELECT cum // 2000 AS shard_id, count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM c GROUP BY 1 ORDER BY 1""",
    "pipe_mixture_weights" ->
      s"""WITH per AS (SELECT source, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
           count(*) AS n_sources FROM per)
         SELECT source, n_docs, n_tokens,
           ${r6Sql("CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)")}
             AS actual_share,
           ${r6Sql("1.0 / CAST(n_sources AS DOUBLE)")} AS target_share,
           ${r6Sql("(1.0 / CAST(n_sources AS DOUBLE)) / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE))")}
             AS weight,
           (1.0 / CAST(n_sources AS DOUBLE)) /
             (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)) > 2.0
             AS upsample_capped
         FROM per, tot ORDER BY source""",
    "pipe_gdpr_forget" ->
      s"""WITH ev AS (SELECT event_id, user_id, event_type AS et,
           user_id % 97 = 0 AS forget,
           CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
             || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 1000000007 AS ck
           FROM ${evSql()})
         SELECT et, count(*) AS n_total,
           CAST(sum(CASE WHEN forget THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
           count(DISTINCT CASE WHEN forget THEN user_id END)
             AS n_users_forgotten,
           CAST(count(*) - sum(CASE WHEN forget THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           ${r6Sql("CAST(count(*) - sum(CASE WHEN forget THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS retained_share,
           CAST(sum(CASE WHEN NOT forget THEN ck ELSE 0 END) AS BIGINT)
             AS retained_checksum
         FROM ev GROUP BY et ORDER BY et""",
    "pipe_freshness_sla" ->
      s"""WITH ev AS (SELECT event_type AS et, epoch_us(ts) AS us
           FROM ${evSql()}),
         g AS (SELECT max(us) AS gus FROM ev)
         SELECT et, count(*) AS n_events,
           strftime(make_timestamp(max(us)), '%Y-%m-%d %H:%M:%S.%f')
             AS last_seen,
           CAST((max(gus) - max(us)) // 60000000 AS BIGINT) AS lag_minutes,
           (max(gus) - max(us)) >= 1800000000 AS sla_breach,
           CAST(sum(CASE WHEN us >= gus - 3600000000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_last_hour
         FROM ev, g GROUP BY et ORDER BY et""",
    "pipe_datagen_profile" ->
      s"""WITH r AS (SELECT unnest(range(0, 10000)) AS id),
         h AS (SELECT id, md5(CAST(id AS VARCHAR)) AS hx FROM r),
         g AS (SELECT id,
           'src' || CAST(id % 20 AS VARCHAR) AS source,
           CAST(floor(CAST(CAST(('0x' || substr(hx, 1, 15)) AS BIGINT) AS DOUBLE)
             / 1152921504606846976.0 * 91) AS BIGINT) + 10 AS n_tokens,
           CAST(CAST(floor(CAST(CAST(('0x' || substr(hx, 17, 15)) AS BIGINT) AS DOUBLE)
             / 1152921504606846976.0 * 10000) AS BIGINT) AS DOUBLE) / 100.0 AS value
           FROM h)
         SELECT source, count(*) AS n_rows,
           ${r4Sql("CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS mean_tokens,
           CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS value_sum,
           CAST(sum(CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':'
             || CAST(n_tokens AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000007)
             AS BIGINT) AS checksum
         FROM g GROUP BY source ORDER BY source""",
    // result-transparent: the oracle recomputes the FULL aggregate from
    // raw events, proving MV ⊎ batch ≡ recompute without knowing the MV
    "pipe_mv_incremental" ->
      s"""SELECT event_type AS et,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day_s, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE), 2) AS rev
         FROM ${evSql()} GROUP BY 1, 2 ORDER BY et, day_s""",
    "pipe_sample_weighted" ->
      s"""WITH s AS (SELECT doc_id, n_chars,
           pow(CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) AS DOUBLE) / 1152921504606846976.0,
             1.0 / CAST(n_chars AS DOUBLE)) AS k
           FROM documents),
         t AS (SELECT * FROM s ORDER BY k DESC, doc_id LIMIT 64)
         SELECT doc_id, n_chars, ${r6Sql("k")} AS key_r
         FROM t ORDER BY key_r DESC, doc_id""",
    "pipe_skew_report" ->
      s"""WITH g AS (SELECT
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT)
             % 32 AS bucket,
           count(*) AS n_rows, count(DISTINCT user_id) AS n_users
           FROM ${evSql()} GROUP BY 1),
         w AS (SELECT *, sum(n_rows) OVER () AS tot, count(*) OVER () AS nb,
           max(n_rows) OVER () AS mx FROM g)
         SELECT bucket, n_rows, n_users,
           ${r6Sql("CAST(n_rows AS DOUBLE) / CAST(tot AS DOUBLE)")} AS share,
           ${r4Sql("CAST(mx AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(nb AS DOUBLE))")} AS skew_ratio
         FROM w ORDER BY bucket""",
    "pipe_analyze_stats" -> analyzeStatsOracle,
    "pipe_curriculum_order" ->
      s"""WITH s AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS score FROM documents),
         q AS (SELECT ${r6Sql("quantile_cont(score, 0.25)")} AS q1,
           ${r6Sql("quantile_cont(score, 0.5)")} AS q2,
           ${r6Sql("quantile_cont(score, 0.75)")} AS q3 FROM s),
         st AS (SELECT doc_id, score,
           1 + CAST(score > q1 AS BIGINT) + CAST(score > q2 AS BIGINT)
             + CAST(score > q3 AS BIGINT) AS stage,
           md5('curr:' || CAST(doc_id AS VARCHAR)) AS shuf
           FROM s, q),
         b AS (SELECT *, substr(shuf, 1, 2) AS bkt FROM st),
         c AS (SELECT stage, bkt, count(*) AS n FROM b GROUP BY 1, 2),
         o AS (SELECT stage, bkt,
           sum(n) OVER (PARTITION BY stage ORDER BY bkt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS off FROM c)
         SELECT doc_id, score, stage,
           CAST(off + row_number() OVER (PARTITION BY stage, bkt
             ORDER BY shuf, doc_id) AS BIGINT) AS pos
         FROM b JOIN o USING (stage, bkt) ORDER BY stage, pos""",
    "pipe_split_train_test" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
              ELSE 'test' END AS split,
           source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY 1, 2 ORDER BY split, source""",
    // both roundtrips: identity modulo one write→read round trip, so the
    // oracle recomputes the projection straight from the parquet table
    "pipe_csv_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars,
           lang || ',' || '"' || source || '"' AS tricky
         FROM documents ORDER BY doc_id""",
    "pipe_json_roundtrip" ->
      """SELECT doc_id, lang, n_chars,
           array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS head3,
           source
         FROM documents ORDER BY doc_id""",
    "pipe_orc_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY source, lang ORDER BY source, lang""",
    "pipe_avro_roundtrip" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_sum,
           min(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS first_ts,
           max(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS last_ts
         FROM ${evSql()} GROUP BY event_type ORDER BY event_type""",
    // models the merged read directly over events: even event_ids are the
    // v1 files where user_id did not exist yet (NULL after the merge)
    "pipe_schema_evolution" ->
      s"""SELECT event_type, count(*) AS n,
           CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_user,
           count(DISTINCT CASE WHEN event_id % 2 = 1 THEN user_id END) AS n_users,
           round(CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_value
         FROM ${evSql()}
         GROUP BY event_type ORDER BY event_type""",
    "pipe_compaction_bins" ->
      """WITH f AS (
           SELECT doc_id, source, n_chars,
             COALESCE(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM documents),
         b AS (SELECT *, CAST(cum_before // 2048 AS BIGINT) AS bin FROM f)
         SELECT source, bin, count(*) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS bytes,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM b GROUP BY source, bin ORDER BY source, bin""",
    "pipe_zorder_layout" ->
      s"""WITH k AS (
           SELECT o_orderkey % 256 AS yv, o_custkey % 256 AS xv
           FROM orders),
         z AS (
           SELECT xv, yv, ${zorderTermSql("xv", "yv")} AS zv
           FROM k)
         SELECT zv >> 8 AS z_bucket, count(*) AS n_rows,
           min(xv) AS min_x, max(xv) AS max_x,
           min(yv) AS min_y, max(yv) AS max_y
         FROM z GROUP BY z_bucket ORDER BY z_bucket""",
    // full recompute from raw events — gates that the incremental
    // union-of-partials merge equals the from-scratch aggregate
    "pipe_rollup_merge" ->
      s"""SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE), 4)
             AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
         FROM ${evSql()}
         GROUP BY event_type, day ORDER BY event_type, day""",
    "pipe_quality_checks" ->
      s"""WITH oc AS (
           SELECT 'orders_null_custkey' AS check_name, count(*) AS n_checked,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations,
             CAST(min(CASE WHEN o_custkey IS NULL THEN o_orderkey END) AS VARCHAR)
               AS sample_key
           FROM orders
           UNION ALL
           SELECT 'orders_price_range', count(*),
             CAST(sum(CASE WHEN o_totalprice <= 0.0 OR o_totalprice > 450000.0
               THEN 1 ELSE 0 END) AS BIGINT),
             CAST(min(CASE WHEN o_totalprice <= 0.0 OR o_totalprice > 450000.0
               THEN o_orderkey END) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'orders_dup_orderkey', count(*),
             CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(min(CASE WHEN cnt > 1 THEN o_orderkey END) AS VARCHAR)
           FROM (SELECT o_orderkey, count(*) AS cnt FROM orders GROUP BY 1)
           UNION ALL
           SELECT 'orders_orphan_custkey', count(*),
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(min(CASE WHEN c.c_custkey IS NULL THEN o_orderkey END) AS VARCHAR)
           FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o_custkey = c.c_custkey
           UNION ALL
           SELECT 'events_value_range', count(*),
             CAST(sum(CASE WHEN value < 0.0 OR value > 400.0 THEN 1 ELSE 0 END)
               AS BIGINT),
             CAST(min(CASE WHEN value < 0.0 OR value > 400.0 THEN event_id END)
               AS VARCHAR)
           FROM ${evSql()}
           UNION ALL
           SELECT 'events_ts_window', count(*),
             CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-01'
               OR ts >= TIMESTAMP '2024-02-01' THEN 1 ELSE 0 END) AS BIGINT),
             CAST(min(CASE WHEN ts < TIMESTAMP '2024-01-01'
               OR ts >= TIMESTAMP '2024-02-01' THEN event_id END) AS VARCHAR)
           FROM ${evSql()}
           UNION ALL
           SELECT 'documents_lang_allowed', count(*),
             CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es')
               THEN 1 ELSE 0 END) AS BIGINT),
             CAST(min(CASE WHEN lang NOT IN ('en','de','fr','es')
               THEN doc_id END) AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT 'documents_len_mismatch', count(*),
             CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
               AS BIGINT),
             CAST(min(CASE WHEN n_chars <> length(text) THEN doc_id END)
               AS VARCHAR)
           FROM documents)
         SELECT check_name, n_checked, n_violations,
           ${r6Sql("CAST(n_violations AS DOUBLE) / CAST(n_checked AS DOUBLE)")}
             AS viol_rate,
           sample_key
         FROM oc ORDER BY check_name""",
    "pipe_gap_detect" ->
      s"""WITH h AS (
           SELECT DISTINCT event_type, date_trunc('hour', ts) AS hr
           FROM ${evSql()}),
         b AS (
           SELECT event_type, min(hr) AS mn, max(hr) AS mx
           FROM h GROUP BY event_type),
         grid AS (
           SELECT event_type,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
           FROM b)
         SELECT g.event_type,
           strftime(g.hr, '%Y-%m-%d %H:%M:%S.%f') AS missing_hour
         FROM grid g
         WHERE NOT EXISTS (
           SELECT 1 FROM h WHERE h.event_type = g.event_type AND h.hr = g.hr)
         ORDER BY g.event_type, missing_hour""",
    "pipe_snapshot_diff" ->
      """WITH base AS (
           SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
         next0 AS (
           SELECT k, CASE WHEN k % 7 = 0 THEN price + 50.0 ELSE price END AS price
           FROM base WHERE k % 13 <> 0
           UNION ALL
           SELECT -k AS k, 99.99 AS price FROM base WHERE k % 19 = 0),
         d AS (
           SELECT coalesce(b.k, n.k) AS k,
             CASE WHEN b.k IS NULL THEN 'added'
                  WHEN n.k IS NULL THEN 'removed'
                  WHEN b.price <> n.price THEN 'changed'
                  ELSE 'unchanged' END AS status,
             coalesce(n.price, 0.0) - coalesce(b.price, 0.0) AS delta
           FROM base b FULL OUTER JOIN next0 n ON b.k = n.k)
         SELECT status, count(*) AS n,
           round(CAST(sum(CAST(delta AS DECIMAL(14,2))) AS DOUBLE), 4) AS price_delta,
           min(k) AS min_key, max(k) AS max_key
         FROM d GROUP BY status ORDER BY status""",
    "pipe_upsert_cdc" ->
      """WITH base AS (
           SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS price
           FROM orders),
         existing AS (
           SELECT k,
             CASE WHEN k % 17 = 0 THEN 'D' WHEN k % 10 = 0 THEN 'U' END AS op,
             price + 100.0 AS new_price, st AS new_st
           FROM base WHERE k % 17 = 0 OR k % 10 = 0),
         inserts AS (
           SELECT -k AS k, 'I' AS op, 42.5 AS new_price, 'N' AS new_st
           FROM base WHERE k % 23 = 0),
         changes AS (SELECT * FROM existing UNION ALL SELECT * FROM inserts),
         m AS (
           SELECT coalesce(b.k, c.k) AS k,
             coalesce(c.op, 'keep') AS op,
             CASE WHEN c.op IN ('U', 'I') THEN c.new_st ELSE b.st END AS st,
             CASE WHEN c.op IN ('U', 'I') THEN c.new_price ELSE b.price END AS price
           FROM base b FULL OUTER JOIN changes c ON b.k = c.k
           WHERE coalesce(c.op, '') <> 'D')
         SELECT st, count(*) AS n_rows,
           round(CAST(sum(CAST(price AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_price,
           CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
         FROM m GROUP BY st ORDER BY st""",
    "pipe_scd2_intervals" ->
      s"""WITH e AS (
           SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type, 1) OVER w IS NULL
                    OR lag(event_type, 1) OVER w <> event_type
               THEN 1 ELSE 0 END AS chg
           FROM ${evSql()}
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         v AS (
           SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS ver
           FROM e),
         seg AS (
           SELECT user_id, ver, min(event_type) AS event_type,
             min(ts) AS valid_from, count(*) AS n_events
           FROM v GROUP BY user_id, ver),
         s2 AS (
           SELECT *, lead(valid_from, 1) OVER (PARTITION BY user_id ORDER BY ver) AS valid_to
           FROM seg)
         SELECT user_id, CAST(ver AS BIGINT) AS ver, event_type,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from_s,
           coalesce(strftime(valid_to, '%Y-%m-%d %H:%M:%S.%f'), 'current') AS valid_to_s,
           CAST(n_events AS BIGINT) AS n_events
         FROM s2 ORDER BY user_id, ver""",
    "pipe_sample_hash" ->
      """SELECT event_type, count(*) AS n, min(event_id) AS min_event,
         max(event_id) AS max_event
         FROM events
         WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
         GROUP BY event_type ORDER BY event_type""",
    "pipe_profile_columns" ->
      """SELECT 'o_custkey' AS col_name, count(*) AS n,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           count(DISTINCT o_custkey) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_s,
           CAST(max(o_custkey) AS VARCHAR) AS max_s
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
         FROM orders
         UNION ALL
         SELECT 'o_totalprice', count(*),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_totalprice),
           CAST(CAST(min(o_totalprice) AS DECIMAL(14,2)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(14,2)) AS VARCHAR)
         FROM orders
         ORDER BY col_name""",
    "pipe_sample_stratified" ->
      """WITH d AS (
           SELECT source, doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
               (CASE (TRY_CAST(substr(source, 4, 10) AS INT) % 3)
                 WHEN 0 THEN 'c0' WHEN 1 THEN '80' ELSE '40' END) AS keep
           FROM documents)
         SELECT source, count(*) AS n_total,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           min(CASE WHEN keep THEN doc_id END) AS min_kept
         FROM d GROUP BY source ORDER BY source""",
    "pipe_latest_snapshot" ->
      s"""SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
         user_id, event_type, round(value, 4) AS value_r
         FROM ${evSql()} ORDER BY ts DESC, event_id DESC LIMIT 1""",
    "pipe_filter_contains" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE text LIKE '%join%' ORDER BY doc_id""",
    "pipe_parse_project" ->
      """SELECT event_id, string_split(props, ' ')[1] AS first_tok,
         substr(props, 7, 5) AS sub7_5,
         json_extract_string(props, '$.k') AS k_str
         FROM events ORDER BY event_id""",
    "pipe_incremental_anti" ->
      s"""SELECT e.event_id, e.user_id, e.event_type,
         strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
         FROM ${evSql("e")}
         WHERE NOT EXISTS (
           SELECT 1 FROM (
             SELECT user_id, max(ts) AS last_ts FROM ${evSql()}
             WHERE event_type = 'purchase' GROUP BY user_id) s
           WHERE s.user_id = e.user_id AND e.ts <= s.last_ts)
         ORDER BY e.event_id""",
    "pipe_delta_log" ->
      s"""WITH v1 AS (
           SELECT CAST(1 AS BIGINT) AS version, event_type, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_value
           FROM ${evSql()} WHERE event_id % 3 IN (0, 1)
           GROUP BY event_type),
         v4 AS (
           SELECT CAST(4 AS BIGINT) AS version, event_type, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_value
           FROM ${evSql()}
           GROUP BY event_type)
         SELECT * FROM v1 UNION ALL SELECT * FROM v4
         ORDER BY version, event_type""",
    "pipe_delta_history" ->
      s"""WITH c AS (
           SELECT event_id % 3 AS s, count(*) AS n FROM ${evSql()} GROUP BY 1)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_actions,
             CAST(2 AS BIGINT) AS n_adds, CAST(0 AS BIGINT) AS n_removes,
             (SELECT n FROM c WHERE s = 0) + (SELECT n FROM c WHERE s = 1) AS rows_added
           UNION ALL
           SELECT CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT),
             CAST(0 AS BIGINT), (SELECT n FROM c WHERE s = 2)
           UNION ALL
           SELECT CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT),
             CAST(2 AS BIGINT),
             (SELECT n FROM c WHERE s = 0) + (SELECT n FROM c WHERE s = 1)
           UNION ALL
           SELECT CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT),
             CAST(1 AS BIGINT), (SELECT n FROM c WHERE s = 2))
         ORDER BY version""",
    "pipe_vacuum_plan" ->
      s"""WITH c AS (
           SELECT event_id % 3 AS s, count(*) AS n FROM ${evSql()} GROUP BY 1)
         SELECT * FROM (
           SELECT 'a.parquet' AS path, CAST(3 AS BIGINT) AS removed_version,
             (SELECT n FROM c WHERE s = 0) AS n_rows, TRUE AS eligible
           UNION ALL
           SELECT 'b.parquet', CAST(3 AS BIGINT),
             (SELECT n FROM c WHERE s = 1), TRUE
           UNION ALL
           SELECT 'c.parquet', CAST(4 AS BIGINT),
             (SELECT n FROM c WHERE s = 2), FALSE)
         ORDER BY path""",
    "pipe_partition_prune" ->
      s"""SELECT event_type, count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_value
         FROM ${evSql()}
         WHERE CAST(ts AS DATE) = DATE '2024-01-15'
         GROUP BY event_type ORDER BY event_type""",
    "pipe_sample_topk_hash" ->
      """SELECT source, pr, doc_id, n_chars FROM (
           SELECT source, md5(CAST(doc_id AS VARCHAR)) AS pr, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 5 ORDER BY source, pr, doc_id""",
    "pipe_quarantine_split" ->
      """SELECT CASE WHEN l_orderkey IS NULL THEN 'null_orderkey'
              WHEN l_quantity <= 0.0 THEN 'bad_quantity'
              WHEN l_discount < 0.0 OR l_discount > 0.5 THEN 'bad_discount'
              WHEN l_shipdate < TIMESTAMP '1990-01-01 00:00:00'
                OR l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' THEN 'bad_shipdate'
              ELSE 'ok' END AS disposition,
         count(*) AS n, min(l_orderkey) AS min_key,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_qty
         FROM lineitem GROUP BY 1 ORDER BY disposition""",
    "pipe_token_budget_sample" ->
      """WITH d AS (
           SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS pr
           FROM documents),
         c AS (
           SELECT *, sum(n_tok) OVER (ORDER BY pr, doc_id
             ROWS UNBOUNDED PRECEDING) AS cum
           FROM d)
         SELECT source, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_toks, min(doc_id) AS min_doc
         FROM c WHERE cum <= 5000 GROUP BY source ORDER BY source""",
    "pipe_table_checksum" ->
      """SELECT source, count(*) AS n_rows,
         CAST(sum(CAST(CAST(('0x' || substr(md5(concat_ws('|',
             CAST(doc_id AS VARCHAR), lang, source,
             CAST(n_chars AS VARCHAR), md5(text))), 1, 15)) AS BIGINT)
           AS DECIMAL(38,0))) AS VARCHAR) AS checksum
         FROM documents GROUP BY source ORDER BY source""",
    "pipe_bitmap_index" ->
      s"""WITH wa AS (SELECT o_custkey // 63 AS bucket,
           bit_or(1::BIGINT << CAST(o_custkey % 63 AS INTEGER)) AS wa
           FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
         wb AS (SELECT o_custkey // 63 AS bucket,
           bit_or(1::BIGINT << CAST(o_custkey % 63 AS INTEGER)) AS wb
           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
         j AS (SELECT coalesce(wa.wa, 0::BIGINT) AS wa,
             coalesce(wb.wb, 0::BIGINT) AS wb
           FROM wa FULL OUTER JOIN wb USING (bucket)),
         a AS (SELECT count(*) AS n_buckets,
           CAST(sum(bit_count(wa)) AS BIGINT) AS n_a,
           CAST(sum(bit_count(wb)) AS BIGINT) AS n_b,
           CAST(sum(bit_count(wa & wb)) AS BIGINT) AS n_and,
           CAST(sum(bit_count(wa | wb)) AS BIGINT) AS n_or
           FROM j)
         SELECT n_buckets, n_a, n_b, n_and, n_or,
           ${r6Sql("CASE WHEN n_or > 0 THEN CAST(n_and AS DOUBLE) / CAST(n_or AS DOUBLE) END")}
             AS jaccard
         FROM a""",
    "join_prune_dynamic" ->
      s"""WITH dim AS (
           SELECT DISTINCT CAST(ts AS DATE) AS p_date
           FROM ${evSql()}
           WHERE event_type = 'signup' AND day(CAST(ts AS DATE)) <= 7)
         SELECT strftime(e.p_date, '%Y-%m-%d') AS p_date, e.event_type,
           count(*) AS n,
           round(CAST(sum(CAST(e.value AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_value
         FROM (SELECT *, CAST(ts AS DATE) AS p_date FROM ${evSql()}) e
         JOIN dim USING (p_date)
         GROUP BY e.p_date, e.event_type
         ORDER BY p_date, event_type""")
}
