package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Util._

/** Scalar-function surface: string, date, math, json, array projections.
  *
  * The reference's scalar vocabulary is strings-only (`split`, positional
  * index, `Contains`, `Substring`, concat — `src/bak_unload.ps1:29-35,83`);
  * the engine extends it to the full date/math/json/array families. All are
  * codegen'd Spark built-ins — no UDFs — so every projection stays inside
  * WholeStageCodegen and is a pure map (no shuffle) at any scale.
  */
object Scalars {

  /** One wide projection exercising string (upper/trim/lpad/substr/concat),
    * date (year/month/date_trunc/datediff), and math (round/abs/ln)
    * functions. DuckDB parity notes: `datediff` arg order differs (Spark
    * (end, start) ≡ DuckDB ('day', start, end)); ints are cast to long so
    * both engines emit int64. */
  def strDateMath(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("up_prio"),
        trim(concat(lit("  "), col("o_orderstatus"), lit(" "))).as("trim_stat"),
        lpad(col("o_orderkey").cast("string"), 10, "0").as("key_lpad"),
        substring(col("o_orderpriority"), 3, 6).as("prio_word"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dateS(date_trunc("month", col("o_orderdate"))).as("month_start"),
        datediff(to_date(lit("2026-01-01")), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_2026"),
        round(abs(col("o_totalprice") - 150000.0), 2).as("abs_delta"),
        r4(log(col("o_totalprice"))).as("ln_price"))
      .orderBy("o_orderkey")

  /** Date-part family: quarter, day, weekday, last_day, add_months.
    * Cross-engine numbering traps: Spark weekday() is Monday=0 — DuckDB's
    * dayofweek is Sunday=0, so the oracle derives it from isodow−1;
    * month arithmetic (add_months) clamps to month end identically. */
  def dateParts(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        weekday(col("o_orderdate")).cast("long").as("wd_mon0"),
        dateS(last_day(col("o_orderdate"))).as("month_end"),
        dateS(add_months(col("o_orderdate"), 2)).as("plus_2m"))
      .orderBy("o_orderkey")

  /** Extended string family: reverse, repeat, replace, strpos, left/right,
    * ascii — the rest of the reference's string-only vocabulary
    * generalized. */
  def stringExtra(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        reverse(col("o_orderstatus")).as("rev_stat"),
        repeat(col("o_orderstatus"), 3).as("rep3"),
        regexp_replace(col("o_orderpriority"), "-", "_").as("prio_und"),
        instr(col("o_orderpriority"), "-").cast("long").as("dash_pos"),
        expr("left(o_orderpriority, 1)").as("prio_l1"),
        expr("right(o_orderpriority, 3)").as("prio_r3"),
        ascii(col("o_orderstatus")).cast("long").as("stat_ascii"))
      .orderBy("o_orderkey")

  /** JSON extraction + grouped stats over `events.props` — the structured
    * upgrade of the reference's positional manifest parsing
    * (`src/bak_unload.ps1:29-35`). `get_json_object` is a codegen'd
    * expression; grouping on the extracted value is a normal hash agg. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"),
        col("value"))
      .groupBy((col("k_val") % 10).as("k_mod"))
      .agg(
        count(lit(1)).as("n"),
        dsumR(col("value"), Qty).as("sum_value"),
        min(col("event_id")).as("min_event"))
      .orderBy("k_mod")

  /** VariantType surface — Spark 4's open semi-structured type (binary
    * variant encoding, SPARK-45891), the engine's answer to schema-fluid
    * JSON at scale: `parse_json` decodes ONCE into the typed binary form
    * and every `variant_get` is a cheap path read, where repeated
    * `get_json_object` calls re-parse the string per extraction. Exercised
    * end to end: parse → typed path extraction → null-safe probe of an
    * ABSENT path (`try_variant_get` → SQL NULL, not an error) → hash agg
    * over the extracted value. The oracle replays the same reads through
    * DuckDB's JSON functions — variant is an encoding, not a semantics
    * change, which is exactly what the gate proves. Per-row projection +
    * one small hash agg; at 100 TB the parse-once property is the cost
    * difference between one decode and k decodes per row. */
  def variantJson(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("v", parse_json(col("props")))
      .select(col("event_id"),
        variant_get(col("v"), "$.k", "long").as("k_val"),
        try_variant_get(col("v"), "$.missing", "long").as("miss"))
      .groupBy((col("k_val") % 7).as("k_mod"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k_val")).as("sum_k"),
        sum(when(col("miss").isNull, 1L).otherwise(0L)).as("n_missing_null"),
        min(col("event_id")).as("min_event"))
      .orderBy("k_mod")

  /** MapType surface: JSON parsed into a map, keys/values extracted with
    * deterministic key ordering (map iteration order is not a contract in
    * either engine — sort the keys before joining). */
  def mapOps(spark: SparkSession, dir: String): DataFrame = {
    val m = from_json(col("props"),
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
    // r17 optimization round: ONE sort of the entry structs replaces
    // sort(map_keys) + a per-key element_at scan of the map (O(k²)
    // lookups and a second map traversal). Keys are unique, so sorting
    // (key, value) structs orders exactly like sorting the keys, and
    // values ride along for free. The map-parse schema itself is not
    // prunable: every key and every value lands in the output.
    // Measured 2.4-2.5 s -> 1.9-2.0 s at sf0.1 (OPTIMIZATION_r17.md).
    val entries = array_sort(map_entries(m))
    table(spark, dir, "events")
      .select(
        col("event_id"),
        array_join(transform(entries, e => e.getField("key")), ",").as("keys_s"),
        array_join(transform(entries, e => e.getField("value")), ",").as("vals_s"),
        size(entries).cast("long").as("n_keys"))
      .orderBy("event_id")
  }

  /** Array/higher-order-function surface over the embedding column:
    * size, element access, L2 norm via transform+aggregate. Floats are cast
    * to double BEFORE any arithmetic (FIXTURES.md) so Spark and DuckDB
    * accumulate identically, in array order. Higher-order functions keep
    * this per-row (no explode → no row blowup at 100 TB). */
  def arrayEmbeddingStats(spark: SparkSession, dir: String): DataFrame = {
    val asD = transform(col("embedding"), x => x.cast("double"))
    table(spark, dir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        r4(element_at(col("embedding"), 1).cast("double")).as("first_val"),
        r4(sqrt(aggregate(asD, lit(0.0), (acc, x) => acc + x * x))).as("l2_norm"),
        col("label").cast("long").as("label"))
      .orderBy("vec_id")
  }

  /** Regexp family: extract-all (array result), rlike predicate, first
    * capture group, match counting. Cross-engine parity notes: Spark
    * regexp_extract returns '' on no-match where DuckDB returns NULL —
    * normalized via nullif+coalesce on BOTH sides; the patterns stay in
    * the common RE2/Java subset (char classes, bounded repeats, groups). */
  def regexpFamily(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(
        col("doc_id"),
        array_join(regexp_extract_all(col("text"), lit("[a-z]{6,}"), lit(0)), ",")
          .as("long_toks"),
        col("text").rlike("join [a-z]+ filter").cast("long").as("has_pattern"),
        coalesce(nullif(regexp_extract(col("text"), "(jo[a-z]+)", 1), lit("")),
          lit("NONE")).as("first_jo"),
        regexp_count(col("text"), lit("filter")).cast("long").as("n_filter"))
      .orderBy("doc_id")

  /** Null-handling + interval arithmetic: nullif/nvl2/coalesce chains and
    * date ± INTERVAL in days/hours. nvl2 has no DuckDB spelling — the
    * oracle uses the equivalent CASE; interval addition on the NTZ
    * timestamp is exact calendar math in both engines. */
  def nullInterval(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("stat_or_null"),
        nvl2(nullif(col("o_orderstatus"), lit("O")), lit("CLOSED"), lit("OPEN"))
          .as("status_class"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("fallback"))
          .as("stat_coal"),
        dateS(col("o_orderdate") + expr("INTERVAL 3 DAY")).as("plus_3d"),
        date_format(col("o_orderdate") + expr("INTERVAL 36 HOUR"),
          "yyyy-MM-dd HH:mm:ss").as("plus_36h"),
        dateS(col("o_orderdate") - expr("INTERVAL 7 DAY")).as("minus_1w"))
      .orderBy("o_orderkey")

  /** try_* null-safety family: division that nulls instead of failing on
    * a zero denominator, casts that null instead of failing on malformed
    * input, with least/greatest alongside. DuckDB has try_cast but no
    * try_divide — the oracle guards the denominator with CASE, which is
    * exactly try_divide's semantic. */
  def trySafe(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        r4(expr("try_divide(o_totalprice, o_orderkey % 3)")).as("div_or_null"),
        // r16 optimization round: a TRY-mode cast that FAILS pays a
        // per-row exception (ANSI error construction + fill-in stack
        // trace) — measured 2.5 s of this query's 2.8 s, on a column
        // that never parses. The digit guard is EXACTLY equivalent for
        // every input: an accepted integer literal contains at least
        // one ASCII digit, so digit-free strings are NULL under
        // try_cast too; digit-bearing strings still go through the real
        // try_cast (overflow, whitespace, sign semantics unchanged).
        expr("""CAST(CASE WHEN o_orderstatus RLIKE '[0-9]'
                 THEN try_cast(o_orderstatus AS INT) END AS BIGINT)""")
          .as("stat_int"),
        expr("CAST(try_cast(substr(o_orderpriority, 1, 1) AS INT) AS BIGINT)")
          .as("prio_int"),
        least(col("o_totalprice"), lit(100000.0)).as("capped_lo"),
        greatest(col("o_totalprice"), lit(100000.0)).as("capped_hi"))
      .orderBy("o_orderkey")

  /** Bitwise family: AND/OR/XOR, shifts, popcount — the primitives under
    * the engine's own bitmask dedup, declared as user-facing surface.
    * Spark spells shifts as functions (shiftleft), DuckDB as operators
    * (<<); two's-complement semantics on BIGINT agree. */
  def bitwiseOps(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("k_and"),
        col("o_orderkey").bitwiseOR(lit(4096L)).as("k_or"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("k_xor"),
        expr("shiftleft(o_orderkey, 2)").as("k_shl"),
        expr("shiftright(o_orderkey, 3)").as("k_shr"),
        bit_count(col("o_orderkey")).cast("long").as("k_bits"))
      .orderBy("o_orderkey")

  /** Array-manipulation family beyond the HOF stats of
    * [[arrayEmbeddingStats]]: min/max, full sort + positional access,
    * slice, reverse, predicate filter/count. All per-row codegen'd
    * builtins — zero shuffle, no explode (the row count never blows up,
    * which is the point at 100 TB: array ops stay O(row · dim), not
    * O(row × dim) rows). Floats cast to double before any compare/sum so
    * both engines order and accumulate identical doubles; slice sum uses
    * the same sequential-fold spelling [[arrayEmbeddingStats]]'s l2_norm
    * already proved cross-engine. */
  def arrayOps(spark: SparkSession, dir: String): DataFrame = {
    val asD = transform(col("embedding"), x => x.cast("double"))
    table(spark, dir, "embeddings")
      .select(
        col("vec_id"),
        r4(array_min(asD)).as("arr_min"),
        r4(array_max(asD)).as("arr_max"),
        r4(element_at(array_sort(asD), 32)).as("sorted_32"),
        size(filter(asD, x => x > 0)).cast("long").as("n_pos"),
        r4(aggregate(slice(asD, 1, 8), lit(0.0), (acc, x) => acc + x))
          .as("head8_sum"),
        r4(element_at(reverse(asD), 1)).as("last_val"))
      .orderBy("vec_id")
  }

  /** explode_outer — explode's row-preserving mirror, and a real pipeline
    * footgun: an inner explode SILENTLY DROPS every row whose array is
    * empty (106 of 500 docs here), so a downstream per-doc join loses
    * documents with no qualifying tokens. explode_outer keeps them as one
    * null-token row. The filtered array (tokens of length ≥ 8) is empty
    * for ~21% of docs and non-empty for the rest, so both branches are
    * exercised. Null ordering is pinned explicitly — Spark defaults ASC
    * NULLS FIRST, DuckDB NULLS LAST. */
  def explodeOuter(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        explode_outer(filter(split(col("text"), " "), t => length(t) >= 8))
          .as("tok"))
      .orderBy(col("doc_id"), col("tok").asc_nulls_first)

  /** String-distance scalars: Levenshtein per row (fuzzy-match costing —
    * the per-pair metric [[Dedup.editDistance]] budgets at corpus scale),
    * aggregated per brand. Both engines ship the classic
    * Wagner–Fischer definition, so values are integer-exact; the mean
    * divides an exact integer sum (no float-order concern). Per-row
    * projection + one hash agg. */
  def stringDistance(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part")
      .select(col("p_brand"),
        levenshtein(col("p_name"), col("p_type")).as("d_nt"),
        levenshtein(col("p_name"), lower(col("p_name"))).as("d_case"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(col("d_nt")).cast("long").as("sum_nt"),
        r4(sum(col("d_nt")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_nt"),
        max(col("d_case")).cast("long").as("max_case"))
      .orderBy("p_brand")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scalar_string_distance" -> (stringDistance _),
    "scalar_explode_outer" -> (explodeOuter _),
    "scalar_array_ops" -> (arrayOps _),
    "scalar_bitwise" -> (bitwiseOps _),
    "scalar_try_safe" -> (trySafe _),
    "scalar_regexp_family" -> (regexpFamily _),
    "scalar_null_interval" -> (nullInterval _),
    "scalar_str_date_math" -> (strDateMath _),
    "scalar_date_parts" -> (dateParts _),
    "scalar_string_extra" -> (stringExtra _),
    "scalar_map_ops" -> (mapOps _),
    "scalar_json_extract" -> (jsonExtract _),
    "scalar_variant_json" -> (variantJson _),
    "array_embedding_stats" -> (arrayEmbeddingStats _))

  val oracleSql: Map[String, String] = Map(
    "scalar_string_distance" ->
      """WITH d AS (
           SELECT p_brand,
             levenshtein(p_name, p_type) AS d_nt,
             levenshtein(p_name, lower(p_name)) AS d_case
           FROM part)
         SELECT p_brand, count(*) AS n,
           CAST(sum(d_nt) AS BIGINT) AS sum_nt,
           floor((CAST(sum(d_nt) AS DOUBLE) / CAST(count(*) AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS avg_nt,
           CAST(max(d_case) AS BIGINT) AS max_case
         FROM d GROUP BY p_brand ORDER BY p_brand""",
    "scalar_explode_outer" ->
      """WITH a AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), t -> length(t) >= 8) AS arr
           FROM documents)
         SELECT doc_id,
           unnest(CASE WHEN len(arr) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE arr END) AS tok
         FROM a ORDER BY doc_id, tok NULLS FIRST""",
    "scalar_array_ops" ->
      """SELECT vec_id,
         floor((list_min(list_transform(embedding, x -> CAST(x AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0 AS arr_min,
         floor((list_max(list_transform(embedding, x -> CAST(x AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0 AS arr_max,
         floor((list_sort(list_transform(embedding, x -> CAST(x AS DOUBLE)))[32]) * 10000.0 + 0.5) / 10000.0 AS sorted_32,
         CAST(len(list_filter(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x > 0)) AS BIGINT) AS n_pos,
         floor((list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0 AS head8_sum,
         floor((list_reverse(list_transform(embedding, x -> CAST(x AS DOUBLE)))[1]) * 10000.0 + 0.5) / 10000.0 AS last_val
         FROM embeddings ORDER BY vec_id""",
    "scalar_bitwise" ->
      """SELECT o_orderkey,
         o_orderkey & 255 AS k_and,
         o_orderkey | 4096 AS k_or,
         xor(o_orderkey, o_custkey) AS k_xor,
         o_orderkey << 2 AS k_shl,
         o_orderkey >> 3 AS k_shr,
         CAST(bit_count(o_orderkey) AS BIGINT) AS k_bits
         FROM orders ORDER BY o_orderkey""",
    "scalar_try_safe" ->
      """SELECT o_orderkey,
         floor((CASE WHEN o_orderkey % 3 = 0 THEN NULL
                     ELSE o_totalprice / (o_orderkey % 3) END) * 10000.0 + 0.5) / 10000.0
           AS div_or_null,
         CAST(try_cast(o_orderstatus AS INTEGER) AS BIGINT) AS stat_int,
         CAST(try_cast(substr(o_orderpriority, 1, 1) AS INTEGER) AS BIGINT) AS prio_int,
         least(o_totalprice, 100000.0) AS capped_lo,
         greatest(o_totalprice, 100000.0) AS capped_hi
         FROM orders ORDER BY o_orderkey""",
    "scalar_regexp_family" ->
      """SELECT doc_id,
         coalesce(array_to_string(regexp_extract_all(text, '[a-z]{6,}'), ','), '') AS long_toks,
         CAST(regexp_matches(text, 'join [a-z]+ filter') AS BIGINT) AS has_pattern,
         coalesce(nullif(regexp_extract(text, '(jo[a-z]+)', 1), ''), 'NONE') AS first_jo,
         CAST(len(regexp_extract_all(text, 'filter')) AS BIGINT) AS n_filter
         FROM documents ORDER BY doc_id""",
    "scalar_null_interval" ->
      """SELECT o_orderkey,
         nullif(o_orderstatus, 'O') AS stat_or_null,
         CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL
              THEN 'CLOSED' ELSE 'OPEN' END AS status_class,
         coalesce(nullif(o_orderstatus, 'O'), 'fallback') AS stat_coal,
         strftime(o_orderdate + INTERVAL 3 DAY, '%Y-%m-%d') AS plus_3d,
         strftime(o_orderdate + INTERVAL 36 HOUR, '%Y-%m-%d %H:%M:%S') AS plus_36h,
         strftime(o_orderdate - INTERVAL 7 DAY, '%Y-%m-%d') AS minus_1w
         FROM orders ORDER BY o_orderkey""",
    "scalar_str_date_math" ->
      """SELECT o_orderkey,
         upper(o_orderpriority) AS up_prio,
         trim(concat('  ', o_orderstatus, ' ')) AS trim_stat,
         lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS key_lpad,
         substr(o_orderpriority, 3, 6) AS prio_word,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
         CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS BIGINT) AS days_to_2026,
         round(abs(o_totalprice - 150000.0), 2) AS abs_delta,
         floor((ln(o_totalprice)) * 10000.0 + 0.5) / 10000.0 AS ln_price
         FROM orders ORDER BY o_orderkey""",
    "scalar_date_parts" ->
      """SELECT o_orderkey,
         CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
         CAST(day(o_orderdate) AS BIGINT) AS dom,
         CAST(isodow(o_orderdate) - 1 AS BIGINT) AS wd_mon0,
         strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
         strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus_2m
         FROM orders ORDER BY o_orderkey""",
    "scalar_string_extra" ->
      """SELECT o_orderkey,
         reverse(o_orderstatus) AS rev_stat,
         repeat(o_orderstatus, 3) AS rep3,
         replace(o_orderpriority, '-', '_') AS prio_und,
         CAST(strpos(o_orderpriority, '-') AS BIGINT) AS dash_pos,
         left(o_orderpriority, 1) AS prio_l1,
         right(o_orderpriority, 3) AS prio_r3,
         CAST(ascii(o_orderstatus) AS BIGINT) AS stat_ascii
         FROM orders ORDER BY o_orderkey""",
    "scalar_variant_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 AS k_mod,
         count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         CAST(sum(CASE WHEN json_extract_string(props, '$.missing') IS NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_null,
         min(event_id) AS min_event
         FROM events GROUP BY k_mod ORDER BY k_mod""",
    "scalar_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
         count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_value,
         min(event_id) AS min_event
         FROM events GROUP BY k_mod ORDER BY k_mod""",
    "scalar_map_ops" ->
      """SELECT event_id,
         array_to_string(list_sort(json_keys(props)), ',') AS keys_s,
         array_to_string(list_transform(list_sort(json_keys(props)),
           k -> json_extract_string(props, '$.' || k)), ',') AS vals_s,
         CAST(len(json_keys(props)) AS BIGINT) AS n_keys
         FROM events ORDER BY event_id""",
    "array_embedding_stats" ->
      """SELECT vec_id,
         CAST(len(embedding) AS BIGINT) AS dim,
         floor((CAST(embedding[1] AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS first_val,
         floor((sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 10000.0 + 0.5) / 10000.0 AS l2_norm,
         CAST(label AS BIGINT) AS label
         FROM embeddings ORDER BY vec_id""")
}
