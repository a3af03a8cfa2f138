package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Util._

/** Text-analysis + deduplication surface over the `documents` table — the
  * LLM-training-data-pipeline operators (tokenize, language-ID heuristic,
  * quality scoring, token counting, fingerprinting, exact + near dedup).
  *
  * Scale design: every per-document computation is a codegen'd projection
  * (no shuffle); dedup shuffles once on the hash/blocking key. Near-dup
  * pair generation is blocked by `source` so candidate pairs stay bounded
  * per block instead of O(n²) global — the standard LSH-style blocking
  * discipline at 100 TB.
  */
object Text {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  /** Global top-20 tokens — exercises the Generator (explode) path.
    * explode → partial count per partition → final count: one shuffle of
    * (token, partial_n), tiny because the vocabulary is small. */
  def tokenTopk(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token"))
      .limit(20)

  /** Per-language corpus stats. */
  def langStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        r4(sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** Language-ID heuristic: vowel-frequency n-gram proxy. Per doc the vowel
    * ratio is exact integer/integer double math (identical across engines);
    * the per-group mean goes through a decimal accumulator so summation
    * order can't perturb it. Output is the (actual lang × predicted class)
    * confusion matrix. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val nV = length(regexp_replace(col("text"), "[^aeiou]", ""))
    val vr = nV.cast("double") / length(col("text")).cast("double")
    docs(spark, dir)
      .select(col("lang"), vr.as("vr"),
        when(vr >= 0.35, "high_vowel")
          .when(vr >= 0.28, "mid_vowel")
          .otherwise("low_vowel").as("predicted"))
      .groupBy("lang", "predicted")
      .agg(
        count(lit(1)).as("n"),
        r4(sum(r6(col("vr")).cast(DecimalType(12, 6))).cast("double")
          / count(lit(1)).cast("double")).as("avg_vowel_ratio"))
      .orderBy("lang", "predicted")
  }

  private[ops] val StopWords = Seq("join", "filter", "sort", "merge", "window")

  /** The composite quality signal shared by [[qualityScore]] and
    * [[dedupKeepBest]]: exact per-row double math (int/int divisions,
    * least), so cross-engine ORDERING on it is reliable un-rounded. */
  private[ops] def compositeQuality: (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column, org.apache.spark.sql.Column,
      org.apache.spark.sql.Column) = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin(StopWords: _*))).cast("long")
    val stopRatio = nStop.cast("double") / nTok.cast("double")
    val avgTokLen = (length(col("text")) - (nTok - 1)).cast("double") / nTok.cast("double")
    val score = lit(0.6) * stopRatio + lit(0.4) * least(avgTokLen / 8.0, lit(1.0))
    (nTok, stopRatio, avgTokLen, score)
  }

  /** Quality scoring: token count, stopword ratio, mean token length, and a
    * composite score — the standard cheap quality signals for corpus
    * filtering. Pure per-row projection; at 100 TB this runs as a map with
    * zero shuffle. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val (nTok, stopRatio, avgTokLen, score) = compositeQuality
    docs(spark, dir)
      .select(
        col("doc_id"),
        nTok.as("n_tok"),
        r4(stopRatio).as("stop_ratio"),
        r4(avgTokLen).as("avg_tok_len"),
        r4(score).as("quality"))
      .orderBy("doc_id")
  }

  /** The designated stopword set shared by the rule gate and
    * [[compositeQuality]] — 5 of the fixture's 30-token vocabulary,
    * standing in for Gopher's {the, be, to, of, and, …} on real text. */
  private val GopherStops = Seq("join", "filter", "sort", "merge", "window")

  /** Gopher-style rule-based quality GATE (Rae et al. 2021 §A1.1 — the
    * published corpus-filter recipe): a document is kept only if
    * (1) its token count lies in [15, 90], (2) its mean token length lies
    * in [3.5, 5.5], (3) it contains ≥ 2 distinct designated stopwords,
    * and (4) its top-token share is ≤ 1/8 (the repetition rule). Output
    * is the curator's decision table: per-source rule-level failure
    * counts, kept count, and kept rate.
    *
    * Scale shape: every rule is a PER-ROW projection — the top-token
    * multiplicity comes from the [[repetitionStats]] sorted-run fold
    * (multiplicity in a sorted array IS run length), so no corpus
    * explode/shuffle happens for a per-row statistic; the only shuffle
    * is the #sources-row rollup with map-side partials. Thresholds are
    * deliberately DYADIC-exact (3.5, 5.5, 0.125) and the compared ratios
    * are exact int/int divisions, so the pass/fail booleans cannot
    * diverge cross-engine at a boundary ulp (the `events_rfm` lesson
    * applied at design time). */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val maxTokRun = expr(
      """aggregate(
           array_sort(toks),
           named_struct('prev', '', 'run', 0L, 'best', 0L),
           (st, x) -> named_struct(
             'prev', x,
             'run', IF(x = st.prev, st.run + 1L, 1L),
             'best', GREATEST(st.best, IF(x = st.prev, st.run + 1L, 1L))),
           st -> st.best)""")
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        split(col("text"), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("mean_wl",
        (col("n_chars") - (col("n_tok") - 1)).cast("double")
          / col("n_tok").cast("double"))
      .withColumn("n_stop",
        size(array_intersect(array_distinct(col("toks")),
          array(GopherStops.map(lit): _*))).cast("long"))
      .withColumn("top_share",
        maxTokRun.cast("double") / col("n_tok").cast("double"))
      .withColumn("f_len", col("n_tok") < 15 || col("n_tok") > 90)
      .withColumn("f_wordlen", col("mean_wl") < 3.5 || col("mean_wl") > 5.5)
      .withColumn("f_stop", col("n_stop") < 2)
      .withColumn("f_rep", col("top_share") > 0.125)
      .withColumn("pass",
        !(col("f_len") || col("f_wordlen") || col("f_stop") || col("f_rep")))
    d.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("f_len"), 1L).otherwise(0L)).as("n_fail_len"),
        sum(when(col("f_wordlen"), 1L).otherwise(0L)).as("n_fail_wordlen"),
        sum(when(col("f_stop"), 1L).otherwise(0L)).as("n_fail_stop"),
        sum(when(col("f_rep"), 1L).otherwise(0L)).as("n_fail_rep"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        r4(sum(when(col("pass"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double")).as("pass_rate"),
        min(when(!col("pass"), col("doc_id"))).as("first_fail"))
      .orderBy("source")
  }

  /** Character-distribution Shannon entropy per document — the quality
    * signal that separates natural language (~3.5–4.5 bits) from
    * gibberish (high) and boilerplate/repetition (low), computed by the
    * codegen'd [[graft.functions.CharEntropy]] expression: one O(n) pass
    * per row inside whole-stage codegen, no per-char explode (the naive
    * distributed spelling — explode to one row per character — would
    * multiply a 100 TB corpus into a corpus-sized shuffle for a per-row
    * statistic). Zero shuffle; the final orderBy is presentation only. */
  def charEntropyScore(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        r4(graft.functions.CharEntropy.charEntropy(col("text"))).as("entropy"))
      .orderBy("doc_id")

  /** Feature hashing (the hashing trick): fixed-width bag-of-words
    * without a vocabulary — each token maps to bucket
    * md5(token) mod 32, so the featurizer needs NO fitted state, works
    * identically on any shard, and new tokens never resize anything;
    * exactly why it's the streaming/distributed vectorizer of choice.
    * Output is sparse (doc_id, bucket, cnt) rows — the explode →
    * map-side-combined count is the standard distributed shape (the
    * same one TF-IDF uses), and the shuffle carries at most 32 rows per
    * doc. Bucket = 16-bit md5 prefix mod 32, identical in both engines. */
  def hashFeatures(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (conv(substring(md5(col("tok").cast("binary")), 1, 4), 16, 10)
      .cast("long") % 32).as("bucket")
    docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), bucket)
      .agg(count(lit(1)).as("cnt"))
      .orderBy("doc_id", "bucket")
  }

  /** Token counting three ways: whitespace split, a BPE-ish regex
    * (letter runs / digit runs / single punctuation), and the chars/4
    * LLM-token estimate. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")
          .as("n_bpeish"),
        expr("(n_chars + 3) div 4").as("est_llm_tokens"))
      .orderBy("doc_id")

  /** Positional token stats via posexplode — the ordinal Generator path
    * (explode with position). Leading positions carry the document-start
    * distribution. Spark's pos is 0-based; emitted 1-based to match the
    * oracle's range(). */
  def posTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .filter(col("pos") <= 2)
      .select((col("pos") + 1).cast("long").as("pos"), col("token"))
      .groupBy("pos", "token")
      .agg(count(lit(1)).as("n"))
      .orderBy("pos", "token")

  /** Document fingerprinting: 1-permutation MinHash (min over token md5s —
    * a rolling content signature robust to token order) + distinct-token
    * cardinality. Per-row only; the fingerprint is the natural shuffle key
    * for clustering at scale. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        array_min(transform(split(col("text"), " "), t => md5(t.cast("binary"))))
          .as("fp_minhash"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_uniq_tok"))
      .orderBy("doc_id")

  /** Vocabulary building: the frequency-ranked token → id dictionary every
    * tokenizer training run starts from. One explode + hash agg over the
    * corpus (the heavy, fully parallel part), then TWO-LEVEL id
    * assignment: the global rank by (count desc, token) decomposes into a
    * digit-count bucket `d = len(str(n))` — monotone in n, so
    * (d desc, n desc, token) is the SAME total order — giving a
    * partitioned per-bucket row_number plus bucket offsets from a prefix
    * sum over the ≤19-row digit summary (a BIGINT has at most 19 digits —
    * bounded by construction, independent of vocabulary size). Round 2 ran
    * one global row_number over the whole aggregated vocabulary — fine at
    * any realistic vocab, but a single task at an extreme one. The
    * digit-count buckets REDUCE the largest unpartitioned span rather
    * than bound it (a Zipfian vocabulary keeps ~half its types at counts
    * 1-9, all in the d=1 bucket); the truly bounded exact-rank path at an
    * extreme vocabulary is a range-partitioned sort with per-partition
    * index + offsets (sortBy + zipWithIndex), swapped in behind the same
    * output contract if a profile ever shows the d=1 bucket dominating.
    * Ids are unchanged, so the global-row_number oracle still
    * hash-matches. */
  def vocabBuild(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .withColumn("d", length(col("n").cast("string")))
    val within = Window.partitionBy("d").orderBy(desc("n"), col("token"))
    val offW = Window.orderBy(desc("d")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.groupBy("d").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(offW), lit(0L)))
      .select(col("d"), col("off"))
    counts
      .withColumn("rn", row_number().over(within))
      .join(broadcast(offsets), "d")
      .select((col("off") + col("rn") - 1).cast("long").as("token_id"),
        col("token"), col("n"))
      .orderBy("token_id")
  }

  /** Document chunking for training-data prep: fixed 8-token windows with
    * a 2-token overlap (stride 6), one row per chunk. All per-row array
    * arithmetic — the chunk count and offsets are integer math on the
    * token count, the chunk text a slice+join — so at 100 TB this is a
    * Generator (explode) with zero shuffle, the same scaling shape as
    * tokenization. Short docs yield one (possibly short) chunk. */
  /** The 8-token / stride-6 chunk geometry, shared by [[chunkSplit]] and
    * [[dedupChunkExact]] so the sub-document dedup always hashes exactly
    * the chunks the chunker emits (one definition, two consumers).
    * Output: one (doc_id, toks, ci) row per chunk, plus the chunk-text
    * expression over those columns. */
  private[ops] def chunkRows(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("toks"))
    // smallest k with 6k+8 ≥ n, plus 1 → 1 + ceil((n−8)/6) chunks, the
    // ceil spelled floor((n−3)/6) for n > 8; exact int-valued doubles
    val nChunks = (lit(1) + when(n > 8, floor((n - 3) / lit(6))).otherwise(lit(0)))
      .cast("long")
    docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("ci"))
  }

  private def chunkTextCol: Column =
    concat_ws(" ", slice(col("toks"), (col("ci") * 6 + 1).cast("int"), lit(8)))

  def chunkSplit(spark: SparkSession, dir: String): DataFrame =
    chunkRows(spark, dir)
      .select(
        col("doc_id"),
        col("ci").as("chunk_idx"),
        chunkTextCol.as("chunk_text"),
        least(lit(8L), size(col("toks")).cast("long") - col("ci") * 6).as("n_tok"))
      .orderBy("doc_id", "chunk_idx")

  /** Sub-document (paragraph-level) exact dedup — boilerplate detection
    * BELOW document granularity: the [[chunkSplit]] chunking hashed and
    * aggregated corpus-wide, reporting every chunk that recurs across
    * multiple documents (the repeated header/footer/navigation text a
    * whole-document hash can never catch, and the second-most-common
    * dedup pass in a real training pipeline after whole-doc). One
    * Generator pass + one hash shuffle on the chunk hash; output bounded
    * to chunks appearing in ≥ 3 docs, top-20 by spread. */
  def dedupChunkExact(spark: SparkSession, dir: String): DataFrame = {
    chunkRows(spark, dir)
      .select(col("doc_id"), md5(chunkTextCol.cast("binary")).as("h"))
      .groupBy("h")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 3)
      .orderBy(desc("n_docs"), desc("n_occurrences"), col("h"))
      .limit(20)
  }

  /** Maximal duplicated-SPAN detection — the k-gram approximation of
    * suffix-array substring dedup (Lee et al. 2021's "deduplicating
    * training data" span removal, public): every SLIDING 8-token window
    * is hashed (stride 1 — one row per token, bounded amplification, vs
    * [[dedupChunkExact]]'s disjoint chunks which miss straddling
    * duplicates); windows whose hash recurs in ≥2 distinct docs are
    * duplicated positions, and overlapping/adjacent duplicated windows
    * merge into maximal spans per doc (gaps-and-islands: fixed length +
    * ascending pos ⇒ a window extends the current span iff
    * pos ≤ lag(pos)+8). Corpus-wide duplicate detection is ONE hash agg
    * keyed on the window hash (high-cardinality — no block-cap needed);
    * the positions→duplicated-hash join is equally hash-keyed; the span
    * merge is a per-doc window. Output: per-doc span accounting for docs
    * carrying any duplicated span. */
  def dedupSpanMerge(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 8)
    val wins = d
      .select(col("doc_id"), col("n"),
        col("toks"), explode(sequence(lit(0L), col("n") - 8)).as("pos"))
      .select(col("doc_id"), col("n"), col("pos"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("pos") + 1).cast("int"), lit(8)))
          .cast("binary")).as("h"))
    val dup = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val spans = wins.join(dup, "h")
      .withColumn("brk",
        when(lag(col("pos"), 1).over(w).isNull
          || col("pos") > lag(col("pos"), 1).over(w) + 8, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(max(col("n")).as("n_toks"),
        min(col("pos")).as("s"), (max(col("pos")) + 8).as("e"))
    spans.groupBy("doc_id")
      .agg(max(col("n_toks")).as("n_toks"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).as("dup_tokens"),
        max(col("e") - col("s")).as("max_span_len"))
      .withColumn("dup_frac",
        r4(col("dup_tokens").cast("double") / col("n_toks").cast("double")))
      .orderBy("doc_id")
  }

  /** Exact dedup on md5(lower(trim(text))): one hash-shuffle, keep the min
    * doc_id per content hash — ref A7's seen-set semantics applied to
    * content identity. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(lower(trim(col("text")))).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("h"), col("n_copies"))
      .orderBy("doc_id")

  /** Leading-boilerplate detection + strip accounting — the POSITION-
    * anchored twin of [[dedupChunkExact]] (which finds repeated chunks
    * anywhere in a document): a fixed-width HEAD prefix shared by many
    * documents is navigation/header boilerplate (the CCNet/RefinedWeb
    * leading-line strip), and stripping it is a per-row projection once
    * the shared-prefix set is known. Two-token prefixes on this
    * vocabulary; threshold ≥ 3 documents. Shape: one hash agg on the
    * short prefix key builds the boilerplate set (threshold-filtered, so
    * it is small by nature — boilerplate means FEW distinct prefixes
    * covering many docs), broadcast back for the per-doc flag + kept-
    * char accounting. One shuffle total; the apply side never reshuffles
    * the corpus. */
  def dedupPrefixBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val withP = docs(spark, dir).select(
      col("doc_id"), col("source"), length(col("text")).cast("long").as("len"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("prefix"))
    val boiler = withP.groupBy("prefix")
      .agg(count(lit(1)).as("prefix_df"))
      .filter(col("prefix_df") >= 3)
    withP.join(broadcast(boiler), Seq("prefix"), "left")
      .select(
        col("doc_id"), col("source"), col("prefix"),
        coalesce(col("prefix_df"), lit(0L)).as("prefix_df"),
        when(col("prefix_df").isNotNull, lit(1L)).otherwise(lit(0L))
          .as("is_boilerplate"),
        when(col("prefix_df").isNotNull,
          greatest(col("len") - length(col("prefix")).cast("long") - lit(1L), lit(0L)))
          .otherwise(col("len")).as("kept_chars"))
      .orderBy("doc_id")
  }

  /** TF-IDF: top-3 most characteristic tokens per document. tf and df
    * come from two hash aggs over the exploded token stream; N enters as
    * a broadcast scalar aggregate (no driver collect). Ranking happens on
    * the r6-ROUNDED score with a token tie-break: tf·ln(N/df) can be
    * mathematically equal for different (tf, df) pairs (e.g. 2·ln2 vs
    * ln4), where the two engines' libm could disagree in the last ulp —
    * rounding first makes such pairs exact ties and the tie-break
    * deterministic. The df join is unhinted: vocabulary is unbounded at
    * 100 TB (AQE broadcasts it while it is small). */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
    val tok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfx = tok.distinct().groupBy("token").agg(count(lit(1)).as("df"))
    val nDf = d.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), col("token"))
    tf.join(dfx, "token")
      .crossJoin(broadcast(nDf))
      .withColumn("score", r6(col("tf").cast("double")
        * log(col("n").cast("double") / col("df").cast("double"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("score"))
      .orderBy("doc_id", "rk")
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * the retrieval-side companion of [[tfidf]], and the scoring half of a
    * training-data quality/retrieval loop. Corpus stats (N, avgdl) enter
    * as a broadcast one-row aggregate, document frequency per term as a
    * broadcast five-row aggregate; the per-(doc, term) score is then pure
    * map-side math — the whole query is two tiny broadcasts plus one hash
    * agg over the exploded matching tokens, so it scales like tokenize.
    * Ranking happens on the r6-ROUNDED score (ln enters the formula; see
    * [[tfidf]] for why raw libm doubles must not be ordered cross-engine)
    * with doc_id as tie-break. k1 = 1.2, b = 0.75 (the standard Robertson
    * parameters), pre-simplified to the 2.2/0.25/0.75 constants so both
    * engines evaluate the identical expression tree. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
    val dl = d.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
    val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(StopWords: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val tfd = col("tf").cast("double")
    val scored = tf.join(dl, "doc_id")
      .join(broadcast(dfx), "token")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n").cast("double"))
      .withColumn("idf", log(
        (col("n").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("score", r6(
        col("idf") * (tfd * lit(2.2))
          / (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
    val w = Window.partitionBy("token").orderBy(desc("score"), col("doc_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("token"), col("rk"), col("doc_id"), col("tf"), col("dl"), col("score"))
      .orderBy("token", "rk")
  }

  /** First md5 hex digit of a token — the postings layout's partition
    * key, computable identically driver-side (for pruning-set
    * derivation) and in Spark SQL (at write time). 16 partitions. */
  private def tokenPt(t: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(1)

  /** Persisted BM25 POSTINGS index over the FULL vocabulary: per
    * (token, doc) the final r6 BM25 score with the corpus statistics
    * (N, avgdl, df) frozen in at build time — the inverted-index serve
    * discipline search engines use (stale idf until the next rebuild is
    * the standard, documented trade). Laid out PARTITIONED on the
    * token's md5-prefix ([[tokenPt]], 16 dirs): a query filters on the
    * derivable pt set, so the scan statically PARTITION-PRUNES to its
    * terms' slices — chosen over `bucketBy` because the planner
    * disables bucketed scans (and with them bucket pruning) when no
    * downstream operator needs the bucket distribution, while partition
    * pruning is unconditional. Write-once per corpus content
    * ([[CorpusScope.persisted]]). */
  private def ensureBm25Index(spark: SparkSession, dir: String): String =
    CorpusScope.persisted("bm25Index", spark, dir, "documents") { a =>
      val path = a.path("postings_")
      val d = docs(spark, dir)
      val dl = d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      val tf = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfx = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val tfd = col("tf").cast("double")
      tf.join(dl, "doc_id")
        .join(dfx, "token")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl",
          col("sum_dl").cast("double") / col("n").cast("double"))
        .withColumn("idf", log(
          (col("n").cast("double") - col("df").cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)) + lit(1.0)))
        .select(col("token"), col("doc_id"), col("tf"),
          r6(col("idf") * (tfd * lit(2.2))
            / (tfd + lit(1.2) * (lit(0.25) + lit(0.75)
              * (col("dl").cast("double") / col("avgdl"))))).as("score"),
          substring(md5(col("token").cast("binary")), 1, 1).as("pt"))
        .write.mode("overwrite").partitionBy("pt").parquet(path)
      path
    }

  /** Explicit postings schema for reading the partitioned layout: the
    * pt partition column's VALUES are hex chars, and partition-column
    * type inference would type an all-digit directory set as INT (seen
    * on small fixtures), breaking the pt string filter. */
  private val postingsSchema =
    "token STRING, doc_id BIGINT, tf BIGINT, score DOUBLE, pt STRING"

  /** Per-doc query scores from a postings frame: pt partition pruning +
    * token filter, exact decimal per-doc sum. The shared retrieval core
    * of [[bm25IndexServe]] / [[bm25Upsert]] and the hybrid fusion's
    * lexical leg ([[graft.ops.Vector.simsearchRrfHybrid]]). */
  private def postingsDocScores(postings: DataFrame): DataFrame = {
    val pts = StopWords.map(tokenPt).distinct
    postings
      .filter(col("pt").isin(pts: _*) && col("token").isin(StopWords: _*))
      .groupBy("doc_id")
      .agg(sum(col("score").cast(DecimalType(16, 6))).cast("double").as("score"),
        count(lit(1)).as("n_terms"))
  }

  /** Index-served per-doc BM25 scores for the fixed query — exposed for
    * the hybrid retriever so its lexical leg reads postings instead of
    * re-scoring the corpus. Values are bit-identical to the inline
    * computation (same r6 per-term scores, same decimal sum). */
  private[ops] def bm25IndexDocScores(spark: SparkSession, dir: String): DataFrame =
    postingsDocScores(spark.read.schema(postingsSchema)
      .parquet(ensureBm25Index(spark, dir)))

  /** The postings→top-10 serve projection shared by [[bm25IndexServe]]
    * and [[bm25Upsert]]. */
  private def servePostings(postings: DataFrame): DataFrame = {
    val agg = postingsDocScores(postings)
      .orderBy(desc("score"), col("doc_id")).limit(10)
    agg.withColumn("rk", row_number()
        .over(Window.orderBy(desc("score"), col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("n_terms"), col("score"))
      .orderBy("rk")
  }

  /** BM25 retrieval SERVED from the persisted postings index — the
    * build/serve separation of [[bm25]] ([[graft.ops.Vector]]'s PQ/IVF
    * index discipline applied to lexical search): the query touches
    * ONLY its terms' postings (the driver-derived pt set partition-
    * prunes the scan, PlanSpec-asserted) and never rescans or
    * re-scores the corpus. Per-doc score is the exact decimal sum of
    * the baked r6 per-term scores; top-10 by score with doc_id
    * tie-break. At 100 TB the postings table is the corpus-sized
    * artifact and a query reads a vocabulary-fraction of it. */
  def bm25IndexServe(spark: SparkSession, dir: String): DataFrame =
    servePostings(spark.read.schema(postingsSchema)
      .parquet(ensureBm25Index(spark, dir)))

  /** INCREMENTAL BM25 index maintenance — ref A7's contract applied to
    * lexical search, the family's last member ([[graft.ops.Dedup]]
    * `dedup_index_probe`/`dedup_cc_incremental` for dedup,
    * `simsearch_*_upsert` for ANN): a new batch's postings are scored
    * against the STANDING corpus's FROZEN statistics (N, avgdl, df
    * persisted at build — stats tables, never standing documents) and
    * appended into the partitioned layout; standing postings are not
    * rewritten and standing documents are not rescanned.
    *
    * The frozen-stats semantics is the explicit search-engine trade
    * this operator exists to pin: batch documents do NOT update idf —
    * scores drift from a full rebuild until the next reindex (every
    * production inverted index works this way between rebuilds), and a
    * batch token unseen in the standing corpus scores with df = 0.
    * The oracle REPLAYS exactly that: standing-only stats applied to
    * both document sets — so the gate verifies the documented
    * incremental semantics, not accidental full-rebuild equality. */
  def bm25Upsert(spark: SparkSession, dir: String): DataFrame = {
    val unionPath = CorpusScope.persisted("bm25Upsert", spark, dir, "documents") { a =>
      val path = a.path("upostings_")
      // T0: standing build — postings + the frozen stats artifacts
      val standing = docs(spark, dir).filter(col("doc_id") % 7 =!= 0)
      val sDl = standing.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"))
      val sStats = sDl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      val sTf = standing.select(col("doc_id"),
          explode(split(col("text"), " ")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val sDfx = sTf.groupBy("token").agg(count(lit(1)).as("df"))
      val statsPath = a.path("stats_")
      val dfxPath = a.path("dfx_")
      sStats.write.mode("overwrite").parquet(statsPath)
      sDfx.write.mode("overwrite").parquet(dfxPath)
      def scoreWith(tf: DataFrame, dl: DataFrame, stats: DataFrame,
          dfx: DataFrame): DataFrame = {
        val tfd = col("tf").cast("double")
        tf.join(dl, "doc_id")
          .join(dfx, Seq("token"), "left")
          .na.fill(0L, Seq("df"))
          .crossJoin(broadcast(stats))
          .withColumn("avgdl",
            col("sum_dl").cast("double") / col("n").cast("double"))
          .withColumn("idf", log(
            (col("n").cast("double") - col("df").cast("double") + lit(0.5))
              / (col("df").cast("double") + lit(0.5)) + lit(1.0)))
          .select(col("token"), col("doc_id"), col("tf"),
            r6(col("idf") * (tfd * lit(2.2))
              / (tfd + lit(1.2) * (lit(0.25) + lit(0.75)
                * (col("dl").cast("double") / col("avgdl"))))).as("score"),
            substring(md5(col("token").cast("binary")), 1, 1).as("pt"))
      }
      scoreWith(sTf, sDl, sStats, sDfx)
        .write.mode("overwrite").partitionBy("pt").parquet(path)
      // T1: the batch arrives — scored with the PERSISTED stats (read
      // back from disk: the serve-time contract is that upsert needs
      // only the index artifacts), appended into the same layout
      val batch = docs(spark, dir).filter(col("doc_id") % 7 === 0)
      val bDl = batch.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"))
      val bTf = batch.select(col("doc_id"),
          explode(split(col("text"), " ")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      scoreWith(bTf, bDl, spark.read.parquet(statsPath),
          spark.read.parquet(dfxPath))
        .write.mode("append").partitionBy("pt").parquet(path)
      path
    }
    servePostings(spark.read.schema(postingsSchema).parquet(unionPath))
  }

  /** Training-corpus text normalization: trim → lowercase → strip
    * non-alphanumerics → whitespace-collapse (free via split+join) →
    * stopword removal. Pure per-row projection, zero shuffle — the
    * canonical first map of a 100 TB text pipeline. On this corpus the
    * case/punctuation steps are idempotent (the fixture is already clean);
    * the stopword step does real work, so `changed` is exercised in both
    * directions. Output text is string-exact, no float parity concerns. */
  /** The normalization projection of [[normalize]], shared with the
    * composed dedup pipeline ([[Dedup.pipelineE2e]]). */
  private[ops] def normTextExpr: org.apache.spark.sql.Column = array_join(
    filter(
      split(regexp_replace(lower(trim(col("text"))), "[^a-z0-9 ]", ""), " +"),
      t => !t.isin(StopWords: _*)),
    " ")

  def normalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = normTextExpr
    docs(spark, dir)
      .select(col("doc_id"), col("text"), norm.as("norm_text"))
      .select(
        col("doc_id"),
        col("norm_text"),
        size(split(col("text"), " ")).cast("long").as("n_tok_raw"),
        size(split(col("norm_text"), " ")).cast("long").as("n_tok_norm"),
        // long 0/1, not boolean — the output-type policy (Util.scala)
        // admits only String/Long/Double columns
        when(col("norm_text") =!= col("text"), 1L).otherwise(0L).as("changed"))
      .orderBy("doc_id")
  }

  /** Dedup keeping the BEST copy, not the first: per content hash, keep
    * the doc with the highest composite quality (ties to the lower
    * doc_id) — what a real corpus dedup does, since near-identical crawls
    * differ in boilerplate. argmax as a `max_by` aggregate (map-side
    * partial, no ranking window); the quality key is exact per-row double
    * math so both engines order identically before any rounding. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, _, score) = compositeQuality
    docs(spark, dir)
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"), score.as("q"))
      .groupBy("h")
      .agg(
        max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("doc_id"),
        r4(max(col("q"))).as("quality"),
        count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("h"), col("quality"), col("n_copies"))
      .orderBy("doc_id")
  }

  /** Near-dup detection via token-set Jaccard, blocked by `source`:
    * explode distinct tokens → self-join inside the block on (source,
    * token) → per-pair |∩| → Jaccard with |∪| = n1+n2−|∩|. Output is
    * per-source pair statistics (pair lists are degenerate here — the
    * 31-token vocabulary makes most pairs similar). The per-pair Jaccard
    * is exact int/int double math; the per-source mean uses a decimal
    * accumulator. */
  /** Chunked-bitmask token-set encoding — works at ANY vocabulary size,
    * so no planning decision (and no driver action) is needed at all:
    * a distributed dictionary assigns each distinct token a bit; each
    * doc's token set becomes a sparse map of 64-bit words
    * (word index → mask long), built with two keyed aggregations. |∩| of
    * two sets is then a map_zip_with + bit_count — 64 tokens per long of
    * work — instead of a string-array intersection per pair. (Round 1
    * chose between a one-long bitmask and string arrays via a
    * full-corpus countDistinct with a driver `.collect()`; the chunked
    * encoding makes the choice moot.) Returns (doc_id, source, mask, n)
    * with n = |set| = popcount sum.
    *
    * Scale note: the dictionary's bit assignment is TWO-LEVEL — the
    * global token rank decomposes on the token's first character (a
    * string sorts within its first-char group, so (first-char asc,
    * token asc) is the same total order): a per-prefix PARTITIONED
    * row_number plus prefix-sum offsets over the charset-bounded
    * first-char summary. This bounds the largest single task at the
    * LARGEST FIRST-CHAR GROUP — adequate for natural-language tokens,
    * data-dependent for adversarial vocabularies (e.g. all-URL tokens
    * sharing 'h'); the bounded fallback is the same range-partitioned
    * sort + per-partition index noted in [[vocabBuild]]. */
  /** Dictionary rows beyond which [[bitmaskSets]] stops broadcasting the
    * token dictionary and lets the join shuffle instead — an unconditional
    * broadcast of an unbounded vocabulary would blow the broadcast ceiling
    * at extreme corpora. */
  private[ops] val DictBroadcastCap = 1000000L

  private[ops] def bitmaskSets(d: DataFrame): DataFrame = {
    val tok = d.select(col("doc_id"), col("source"),
      explode(array_distinct(split(col("text"), " "))).as("token"))
    val distinctTok = d.select(explode(split(col("text"), " ")).as("token")).distinct()
    val withinB = org.apache.spark.sql.expressions.Window
      .partitionBy("b1").orderBy("token")
    val offW = org.apache.spark.sql.expressions.Window
      .orderBy("b1").rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val dict0 = distinctTok.withColumn("b1", substring(col("token"), 1, 1))
    val offs = dict0.groupBy("b1").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(offW), lit(0L)))
      .select(col("b1"), col("off"))
    val dict = dict0
      .withColumn("rn", row_number().over(withinB))
      .join(broadcast(offs), "b1")
      .withColumn("bit", (col("off") + col("rn") - 1).cast("long"))
      .select(col("token"), col("bit"))
    // Broadcast guard: one cheap bounded job (limit cap+1 → count) decides
    // whether the dictionary fits the broadcast ceiling; above it, the join
    // shuffles on token — slower but never OOMs an executor. The extra pass
    // over the exploded tokens is one LocalLimit-bounded distinct.
    val dictFits = distinctTok.limit((DictBroadcastCap + 1).toInt).count() <= DictBroadcastCap
    tok.join(if (dictFits) broadcast(dict) else dict, "token")
      .groupBy(col("doc_id"), col("source"), shiftright(col("bit"), 6).as("word"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))")).as("m"))
      .groupBy("doc_id", "source")
      .agg(
        map_from_entries(array_sort(collect_list(struct(col("word"), col("m")))))
          .as("mask"),
        sum(bit_count(col("m"))).cast("long").as("n"))
  }

  /** |∩| of two chunked bitmasks: AND word-wise, popcount, sum — the
    * codegen'd sorted-merge [[graft.functions.MaskIntersectCount]]
    * (bit-identical to the `map_zip_with` HOF formulation it replaces;
    * that one evaluated interpreted lambdas per pair). */
  private[ops] def maskIntersect(m1: org.apache.spark.sql.Column,
      m2: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.MaskIntersectCount.maskIntersect(m1, m2)

  /** Deterministic per-source block-size cap for [[dedupNearJaccard]]'s
    * exact pairwise baseline: only the first `NearJacBlockCap` docs of a
    * source (by doc_id) enter the pair join, bounding pair generation at
    * cap²/2 per source REGARDLESS of corpus size — the same bounded-
    * verification discipline as [[NgramDfCap]] and
    * [[Dedup.LevBudgetPerSource]]. Inactive at the sf0.01 correctness
    * gate (25 docs/source), binding at sf0.1 (250/source). The oracle
    * applies the identical cap. */
  private[ops] val NearJacBlockCap = 128

  def dedupNearJaccard(spark: SparkSession, dir: String): DataFrame = {
    // This is the EXACT pairwise baseline, kept as oracle-checkable ground
    // truth — but BOUNDED: the block self-join is capped at
    // [[NearJacBlockCap]] docs per source, so the pair count per source
    // block is a constant (cap²/2), not |block|²/2 — an uncapped block
    // self-join at a 100 TB source block is a task that never finishes.
    // The production path at 100 TB is [[graft.ops.Dedup.minhashLsh]] —
    // candidate pairs from an equi join on LSH band signatures, never
    // quadratic.
    //
    // Pair generation carries each doc's CHUNKED BITMASK (sparse map of
    // 64-bit words) instead of its token array: the capped block self-join
    // emits ≤cap²/2 rows per source once and |∩| is a handful of
    // AND+popcounts per pair. Measured against the alternatives at sf0.1
    // (5000 docs, dense 31-token vocab, ~625k uncapped pairs):
    // string-array intersection 6.5 s, sparse (source, token) equi join
    // 7.9 s (11M pair-token rows), chunked bitmask ~2 s — and unlike
    // round 1's one-long bitmask it needs no vocabulary-size planning
    // decision.
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val capped = docs(spark, dir)
      .withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= NearJacBlockCap)
      .drop("rn")
    val sets = bitmaskSets(capped)
    val jac = sets.alias("a")
      .join(sets.alias("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.source").as("source"),
        maskIntersect(col("a.mask"), col("b.mask")).as("inter"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .filter(col("inter") >= 1)   // the unnest-join oracle only sees pairs sharing a token
      .withColumn("jac",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
    jac.groupBy("source")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("jac") >= 0.8, 1L).otherwise(0L)).as("n_near"),
        r4(sum(r6(col("jac")).cast(DecimalType(16, 6))).cast("double")
          / count(lit(1)).cast("double")).as("avg_jac"))
      .orderBy("source")
  }

  /** Per-source document-frequency cap for [[dedupNgramJaccard]]'s pair
    * join — shingles in more than this many docs of a source are dropped
    * before pairing (and from the set sizes). */
  private[ops] val NgramDfCap = 64

  /** n-gram (3-token shingle) Jaccard near-dup — the order-sensitive
    * sibling of [[dedupNearJaccard]]: shingles catch reordered/rewritten
    * passages that token sets miss. Shingle vocabulary is unbounded, so
    * this always runs the general array-set path (no bitmask); same
    * source-blocked pair generation, skew-bounded by [[NgramDfCap]]. */
  /** Shared sparse shingle-pair statistics: per source-blocked candidate
    * pair with ≥1 common 3-shingle, (source, d1, d2, inter, n1, n2) —
    * the front half of both [[dedupNgramJaccard]] (symmetric Jaccard)
    * and [[shingleContainment]] (asymmetric containment).
    *
    * Shingle overlap is SPARSE (large shingle space), so pairs come from
    * an equi join on (source, shingle) — only colliding pairs
    * materialize, versus |block|²/2 array intersections in the dense
    * token-set case. Pairs with zero common shingles never appear,
    * matching the oracles' inter >= 1 semantics. Util.shingle3 is
    * evaluate-once-per-row (an attribute reference is NOT enough —
    * CollapseProject inlines the split into the shingle lambda,
    * re-splitting the text per element; see Util.boundCol).
    *
    * Hot-shingle document-frequency cap (standard near-dup practice): a
    * shingle present in f docs of a source emits f(f−1)/2 pair rows, so
    * ONE boilerplate sentence at 100 TB is a task that never finishes.
    * Dropping shingles with per-source DF > NgramDfCap bounds any single
    * shingle's contribution at K²/2 pairs. Capped shingles leave the
    * SETS too (n counts kept shingles), so ratios stay true set ratios
    * of what was paired — the oracles apply the identical cap. The anti
    * join is unhinted: the hot set is corpus-size/K at worst, so AQE
    * picks broadcast when it is small rather than us asserting it
    * always is. */
  private def shinglePairCounts(spark: SparkSession, dir: String): DataFrame =
    shinglePairCountsKeyed(spark, dir, bySource = true)

  /** [[shinglePairCounts]] with the blocking key as a parameter:
    * `bySource = true` is the per-source discipline the three original
    * n-gram queries gate; `false` buckets on the shingle alone so
    * candidate pairs may SPAN sources — the syndicated-article case
    * (same text republished by two crawl sources) that per-source
    * blocking is structurally blind to. The hot-shingle DF cap and its
    * [[Udaf.MinKLongs]] bounded-state enforcement are unchanged; global
    * buckets only make the cap bite sooner (a shingle's document
    * frequency now counts all sources), which is exactly the intended
    * cost bound. */
  private def shinglePairCountsKeyed(
      spark: SparkSession, dir: String, bySource: Boolean): DataFrame = {
    // ONE hash shuffle of the shingle table: pair expansion happens per
    // GROUPED bucket exactly as in Dedup.candidatePairs — bounded at
    // cap²/2 per shingle, no self-join probe — and the hot-shingle DF cap
    // is enforced WITH BOUNDED STATE by the native
    // [[graft.functions.MinKLongsAgg]] aggregate at k = cap+1: a final
    // member list of cap+1 ids proves the true document frequency
    // exceeded the cap, so the bucket is dropped (identical semantics to
    // the count+anti-join formulation, which cost two extra passes over
    // the shingle table; a plain collect_set would instead materialize a
    // 10^8-doc boilerplate shingle's full member list in one aggregation
    // buffer before any size filter could apply). Size-1 buckets survive
    // so per-doc kept-shingle counts (the Jaccard denominators) still
    // include unshared shingles.
    val keyCols = if (bySource) Seq("source", "s") else Seq("s")
    val sh0 = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(Util.shingle3(col("text"))).as("s"))
    val buckets = sh0.groupBy(keyCols.map(col): _*)
      .agg(graft.functions.MinKLongsAgg.minKLongs(col("doc_id"), NgramDfCap + 1).as("ds"))
      .filter(size(col("ds")) <= NgramDfCap)
    val cnt = buckets.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val carry = if (bySource) Seq(col("source")) else Seq.empty[Column]
    val pairKeys = if (bySource) Seq("source", "d1", "d2") else Seq("d1", "d2")
    buckets.filter(size(col("ds")) >= 2)
      .select(carry :+
        explode(graft.functions.SortedPairs.pairs(col("ds"))).as("p"): _*)
      .select(carry ++ Seq(col("p.d1").as("d1"), col("p.d2").as("d2")): _*)
      .groupBy(pairKeys.map(col): _*)
      .agg(count(lit(1)).as("inter"))
      .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
  }

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val jac = shinglePairCounts(spark, dir)
      .withColumn("jac",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
    jac.groupBy("source")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("jac") >= 0.5, 1L).otherwise(0L)).as("n_near"),
        r4(sum(r6(col("jac")).cast(DecimalType(16, 6))).cast("double")
          / count(lit(1)).cast("double")).as("avg_jac"))
      .orderBy("source")
  }

  /** Shingle CONTAINMENT — the asymmetric companion of
    * [[dedupNgramJaccard]] and the doc-inside-doc detector a real corpus
    * dedup needs (a page quoting another wholesale has low Jaccard —
    * the union is large — but containment |∩|/|A| ≈ 1 for the quoted
    * side; symmetric measures are blind to it). Same sparse
    * (source, shingle) candidate join and DF cap via
    * [[shinglePairCounts]]; per pair the score is max(|∩|/n1, |∩|/n2).
    * Output: per-source pair counts, containment-flagged count, and the
    * flagged pairs' min ids for spot checks. */
  def shingleContainment(spark: SparkSession, dir: String): DataFrame = {
    val c = shinglePairCounts(spark, dir)
      .withColumn("cmax",
        greatest(col("inter").cast("double") / col("n1").cast("double"),
          col("inter").cast("double") / col("n2").cast("double")))
    c.groupBy("source")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("cmax") >= 0.8, 1L).otherwise(0L)).as("n_contained"),
        min(when(col("cmax") >= 0.8, col("d1"))).as("first_d1"),
        r4(sum(r6(col("cmax")).cast(DecimalType(16, 6))).cast("double")
          / count(lit(1)).cast("double")).as("avg_cmax"))
      .orderBy("source")
  }

  /** CROSS-SOURCE n-gram near-dup — [[dedupNgramJaccard]] with the
    * `source` blocking key dropped ([[shinglePairCountsKeyed]] global
    * mode), closing the per-source blindness for this family the same
    * way `dedup_minhash_global` closed it for MinHash-LSH: a syndicated
    * article republished under two sources now pairs. Pairs are tagged
    * cross-source by joining each side back to its source — two equi
    * joins on doc_id (shuffle-parallel at any scale; the candidate set,
    * not the corpus, is what flows through them). Output: pair counts,
    * near-dup counts, and mean Jaccard split by whether the pair spans
    * sources — the number a crawl operator actually wants first ("how
    * much of my near-dup mass is cross-source?"). */
  def dedupNgramGlobal(spark: SparkSession, dir: String): DataFrame = {
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    val pairs = shinglePairCountsKeyed(spark, dir, bySource = false)
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .withColumn("cross_source", when(col("s1") =!= col("s2"), 1L).otherwise(0L))
      .withColumn("jac",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
    pairs.groupBy("cross_source")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("jac") >= 0.5, 1L).otherwise(0L)).as("n_near"),
        min(when(col("jac") >= 0.5, col("d1"))).as("first_d1"),
        r4(sum(r6(col("jac")).cast(DecimalType(16, 6))).cast("double")
          / count(lit(1)).cast("double")).as("avg_jac"))
      .orderBy("cross_source")
  }

  /** DOMAIN-MIXTURE weights — temperature-based re-balancing of a
    * multi-source corpus (the multilingual-sampling recipe: raw share
    * p_i = n_i/N, sampling weight w_i ∝ p_i^α with α=0.5, so
    * over-represented sources are damped and the tail is boosted). This
    * is the step between corpus stats and the training sampler: the
    * output IS the sampler's per-source quota table. Shape at scale: one
    * per-source count (map-side partial agg), then all arithmetic runs
    * on the #sources-row aggregate — the corpus is touched exactly once.
    * Normalization sums r6-rounded weights through an exact decimal so
    * the denominator is summation-order-independent. */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val s = docs(spark, dir).groupBy("source").agg(count(lit(1)).as("n_docs"))
    val t = s.agg(sum(col("n_docs")).as("total"))
    val r = s.crossJoin(broadcast(t))
      .withColumn("p", col("n_docs").cast("double") / col("total").cast("double"))
      .withColumn("w6", r6(sqrt(col("p"))))
    val d = r.agg(sum(col("w6").cast(DecimalType(16, 6))).as("denom"))
    r.crossJoin(broadcast(d))
      .withColumn("w", col("w6") / col("denom").cast("double"))
      .select(col("source"), col("n_docs"), r6(col("p")).as("p"),
        r6(col("w")).as("weight"),
        floor(col("w") * 100000).cast("long").as("budget_per_100k"))
      .orderBy("source")
  }

  /** Temperature-sampling EXECUTION — [[domainMix]] produces the quota
    * table; this op actually DRAWS the sample: per language, the
    * hash-priority lowest `quota` documents, where quota = ⌊w·B⌋ with
    * w ∝ p^0.5 (α = 0.5 damping) and budget B = ⌊N/4⌋. Language is the
    * domain here because the fixture's langs are genuinely skewed (en ≈
    * 41%) — the damped weights visibly reshape the mix, which is the
    * whole point of temperature sampling. Hash priority (md5 of doc_id)
    * makes the draw deterministic across engines, retries, partitionings,
    * and monotone in B (growing the budget only ADDS documents — the
    * `pipe_token_budget_sample` property, vital for reproducible data
    * ablations).
    *
    * Scale shape: weights/quotas live on the #langs-row aggregate; the
    * corpus-sized take runs through the [[graft.plans.TopKPerKey]] heap
    * exec at k = max quota (O(langs·k) state, one shuffle, NO per-lang
    * ranking window over raw docs); the exact per-lang rank is then a
    * window over the ≤ langs × k SURVIVORS only. The max-quota k is one
    * bounded driver-side value (≤ B) — the centroid-collect discipline. */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.TopK
    val dec = DecimalType(16, 6)
    val s = docs(spark, dir).groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val t = s.agg(sum(col("n_docs")).as("total"))
    val r = s.crossJoin(broadcast(t))
      .withColumn("p", col("n_docs").cast("double") / col("total").cast("double"))
      .withColumn("w6", r6(sqrt(col("p"))))
    val d = r.agg(sum(col("w6").cast(dec)).as("denom"))
    val q = r.crossJoin(broadcast(d))
      .withColumn("w", col("w6") / col("denom").cast("double"))
      .withColumn("budget", floor(col("total").cast("double") / 4.0).cast("long"))
      .withColumn("quota",
        floor(col("w") * col("budget").cast("double")).cast("long"))
      .select(col("lang"), col("n_docs"), col("w"), col("quota"))
    // k for the heap pass: the largest quota — ONE bounded value (≤ B).
    val kMax = q.agg(max(col("quota"))).collect()(0).getLong(0).toInt.max(1)
    val pr = docs(spark, dir).select(col("lang"), col("doc_id"), col("n_chars"),
      md5(col("doc_id").cast("string").cast("binary")).as("pr"))
    val top = TopK.topKPerKey(pr, Seq("lang"),
      Seq(TopK.Ord("pr"), TopK.Ord("doc_id")), kMax)
    val w = Window.partitionBy("lang").orderBy(col("pr"), col("doc_id"))
    val taken = top.withColumn("rk", row_number().over(w))
      .join(broadcast(q.select(col("lang"), col("quota"))), "lang")
      .filter(col("rk") <= col("quota"))
    taken.groupBy("lang")
      .agg(count(lit(1)).as("n_taken"),
        sum(col("n_chars")).as("sum_chars_taken"),
        min(col("doc_id")).as("first_doc"))
      .join(q, "lang")
      .select(col("lang"), col("n_docs"), r6(col("w")).as("weight"),
        col("quota"), col("n_taken"), col("sum_chars_taken"), col("first_doc"))
      .orderBy("lang")
  }

  /** PII masking — the redaction pass a training corpus gets before any
    * model sees it: emails, IPv4s, and phone-shaped strings replaced by
    * typed placeholder tokens, with per-doc match counts kept as the
    * audit trail. The PII itself is synthesized deterministically from
    * doc_id (this sandbox's documents are clean synthetic prose), so the
    * masking logic — three ordered regex families and their counts — is
    * exercised on every row and the oracle replays the same
    * construction. Patterns avoid regex-dialect divergence (no \\d, \\b:
    * character classes only — identical semantics in Java regex and
    * RE2). Pure per-row projection: zero shuffle at any scale. */
  def piiMask(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._%-]+@[a-z0-9.-]+"
    val ipRe = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
    val phoneRe = "[+]1-[0-9]{3}-[0-9]{4}"
    val pii = concat(
      col("text"), lit(" contact user"), col("doc_id"), lit("@mail.example ip 10."),
      col("doc_id") % 256, lit(".0."), col("doc_id") % 7,
      lit(" phone +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    docs(spark, dir)
      .withColumn("pii_text", pii)
      .select(
        col("doc_id"),
        regexp_count(col("pii_text"), lit(emailRe)).cast("long").as("n_email"),
        regexp_count(col("pii_text"), lit(ipRe)).cast("long").as("n_ip"),
        regexp_count(col("pii_text"), lit(phoneRe)).cast("long").as("n_phone"),
        regexp_replace(regexp_replace(regexp_replace(
          col("pii_text"), emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>")
          .as("masked"))
      .withColumn("masked_len", length(col("masked")).cast("long"))
      .orderBy("doc_id")
  }

  /** Moving-Average Type-Token Ratio (MATTR, Covington & McFall 2010) —
    * the length-robust lexical-diversity score: plain TTR
    * (distinct/total) shrinks mechanically as documents grow, so corpus
    * quality filters that threshold on it systematically misjudge long
    * documents; MATTR averages the TTR of every W-token sliding window
    * instead, making scores comparable across lengths. W = 10; documents
    * shorter than W fall back to plain TTR (the standard convention).
    *
    * Shape at scale: the window sweep is a PER-ROW O(n·W) array
    * expression inside codegen — no explode of the corpus token stream,
    * no shuffle at all (the orderBy is presentation). All per-window
    * values are exact integers; the mean divides two exact ints, so both
    * engines produce the identical double before the final r6. */
  def mattr(spark: SparkSession, dir: String): DataFrame = {
    val W = 10
    val m = expr(
      s"""CASE WHEN size(toks) < $W
            THEN CAST(size(array_distinct(toks)) AS DOUBLE) / CAST(size(toks) AS DOUBLE)
            ELSE CAST(aggregate(
                transform(sequence(1, size(toks) - $W + 1),
                  i -> size(array_distinct(slice(toks, i, $W)))),
                0L, (acc, x) -> acc + x) AS DOUBLE)
              / CAST((size(toks) - $W + 1) * $W AS DOUBLE)
          END""")
    docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        r6(m).as("mattr"))
      .orderBy("doc_id")
  }

  /** URL-canonicalization dedup — the first dedup tier of every web-crawl
    * pipeline (before any content hashing): the same page arrives under
    * http/https, with/without `www.`, mixed-case host, tracking params
    * (`utm_*`, `fbclid`), and trailing-slash variants, and all of them
    * must collapse to ONE canonical key. The fixture has no URL column,
    * so (the [[piiMask]] precedent) each doc synthesizes its raw URL
    * deterministically from doc_id — every canonicalization rule is
    * exercised on real rows and the oracle replays the identical
    * construction. 25 hosts × 400 paths under 5000 docs ⇒ lcm 2000
    * canonical pages, so genuine multi-doc collapse happens at every sf.
    *
    * Canonicalization is a fixed regexp_replace chain (patterns inside
    * the Java-regex ∩ RE2 common dialect — char classes only, NO
    * lookahead, which RE2 lacks): scheme dropped, authority lowercased
    * and `www.`-stripped (only the authority — paths stay case-
    * sensitive), tracking params removed, separator debris cleaned,
    * trailing slash normalized. Pure per-row projection; the only
    * shuffle is the canonical-key count — one hash agg, exactly the
    * exact-dedup shape. Output: the duplicate report (canonical pages
    * with ≥ 2 variants, their variant count and lowest doc). */
  def urlCanonical(spark: SparkSession, dir: String): DataFrame = {
    val host = concat(lit("site"), (col("doc_id") % 25).cast("string"),
      lit(".example.com"))
    val raw = concat(
      when(col("doc_id") % 3 === 0, "https://").otherwise("http://"),
      when(col("doc_id") % 2 === 0, "www.").otherwise(""),
      when(col("doc_id") % 7 === 0, upper(host)).otherwise(host),
      lit("/p/"), (col("doc_id") % 400).cast("string"),
      when(col("doc_id") % 5 === 0, "/").otherwise(""),
      when(col("doc_id") % 4 === 0, lit("?utm_source=feed"))
        .when(col("doc_id") % 4 === 1,
          concat(lit("?utm_campaign=x&page="), (col("doc_id") % 3).cast("string")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("?page="), (col("doc_id") % 3).cast("string")))
        .otherwise(lit("")))
    val noScheme = regexp_replace(raw, "^https?://", "")
    val auth = regexp_extract(noScheme, "^[^/?]+", 0)
    val authC = regexp_replace(lower(auth), "^www[.]", "")
    val rest = expr("substring(no_scheme, length(auth_raw) + 1)")
    val restC =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(rest,
          "(utm_[a-z]+|fbclid)=[^&]*", ""),   // tracking params out
        "[?][&]+", "?"),                       // "?&page" → "?page"
        "[?&]+$", ""),                         // dangling "?" / "?&"
        "/[?]", "?"),                          // "/?page" → "?page"
        "/$", "")                              // trailing slash
    docs(spark, dir)
      .withColumn("no_scheme", noScheme)
      .withColumn("auth_raw", auth)
      .withColumn("canonical", concat(authC, restC))
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("min_doc"))
      .filter(col("n_variants") >= 2)
      .orderBy(desc("n_variants"), col("canonical"))
      .limit(15)
  }

  /** QUALITY QUARTILES — per-language ntile(4) bucketing of the
    * [[qualityScore]] composite, the decision table behind "train on the
    * top quartile, downsample the bottom": per (lang, quartile) doc
    * counts and the score range each bucket spans. Buckets are assigned
    * on the r4-ROUNDED score (proven hash-identical cross-engine by
    * `text_quality_score`) with doc_id tie-break, so bucket membership
    * is deterministic even where raw scores tie. One window per lang
    * partition + one hash agg — scales like every per-key window. */
  def qualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (nTok, _, _, score) = compositeQuality
    val base = docs(spark, dir)
      .select(col("doc_id"), col("lang"), nTok.as("n_tok"), r4(score).as("q"))
    val w = Window.partitionBy("lang").orderBy(col("q"), col("doc_id"))
    base.withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy("lang", "quartile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("q")).as("min_q"), max(col("q")).as("max_q"),
        r4(sum(col("n_tok")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_tok"))
      .orderBy("lang", "quartile")
  }

  /** Benchmark DECONTAMINATION — the n-gram collision sweep a serious LLM
    * training run ships before training: find corpus documents that
    * overlap the evaluation/benchmark set (stand-in here: the
    * deterministic 1/97 doc_id sample) so they can be dropped and eval
    * scores stay honest. Overlap = shared distinct 3-token shingles
    * ([[Util.shingle3]] — the 8-to-13-gram discipline scaled to this
    * fixture's short docs); a doc is flagged when ≥ half its shingles
    * appear in the eval set. Shape at scale: the eval side is tiny by
    * construction (benchmarks are thousands of docs, the corpus
    * billions), so its distinct-shingle set BROADCASTS; the corpus side
    * is one shingle explode + broadcast-hash left join + per-doc hash
    * agg — the corpus never shuffles, there is no pair space, and hot
    * shingles cost nothing because the probe side is a hash table, not
    * a shuffle key. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val evalSh = d.filter(col("doc_id") % 97 === 0)
      .select(explode(shingle3(col("text"))).as("shingle"))
      .distinct()
    val corp = d.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("source"),
        explode(shingle3(col("text"))).as("shingle"))
    corp.join(broadcast(evalSh.withColumn("hit", lit(1))), Seq("shingle"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .filter(col("n_hit") >= 1)
      .withColumn("containment",
        r6(col("n_hit").cast("double") / col("n_shingles").cast("double")))
      .select(col("doc_id"), col("source"), col("n_shingles"), col("n_hit"),
        col("containment"),
        when(col("containment") >= 0.5, 1L).otherwise(0L).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Adjacent-pair counts over the per-doc token-ARRAY corpus — the
    * pair-statistics half of BPE shared by [[bpeMerge]] and [[bpeTrain]].
    * zip_with(toks, tail) builds each document's adjacency list as a
    * per-row projection (the short zip side pads with null = the "no
    * next token" sentinel lead() produced in the window spelling), so
    * pair counting is explode + map-side-combined hash agg of (t1, t2)
    * — the ONLY shuffle is the tiny pair-count one; the corpus itself
    * never shuffles. */
  private def adjacentPairCounts(corpus: DataFrame): DataFrame =
    corpus.select(explode(expr(
      """zip_with(toks, slice(toks, 2, greatest(size(toks) - 1, 0)),
         (a, b) -> struct(a AS t1, b AS t2))""")).as("p"))
      .filter(col("p.t2").isNotNull)
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(count(lit(1)).as("cnt"))

  /** One BPE-style pair-merge iteration — the step that upgrades
    * [[vocabBuild]]'s unigram dictionary toward real tokenizer training:
    * count every adjacent token pair corpus-wide, pick the most frequent
    * (ties broken lexicographically), and merge its occurrences in every
    * document left-to-right non-overlapping, exactly as BPE training
    * does. Shape at scale: documents stay per-doc token ARRAYS, so pair
    * counting is [[adjacentPairCounts]] (zero corpus shuffle), the
    * winner is a one-row broadcast, and the scan-order merge — the
    * inherently sequential part — runs as the codegen'd per-row loop
    * [[graft.functions.BpeMergeOnce]]: sequential state lives inside a
    * row, never in a shuffle. (The window formulation this replaces paid
    * a full (doc_id, pos) shuffle+sort for lead() and another for the
    * candidate-run/offset-parity merge; the ORACLE still replays that
    * parity spelling in SQL — a candidate at position p merges iff
    * p − start-of-its-candidate-run is even — so the gate proves the
    * fused loop bit-equal to the declared relational semantics.)
    * Output per doc: the merged text, merge count, and resulting
    * length. */
  def bpeMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val best = adjacentPairCounts(base)
      .orderBy(desc("cnt"), col("t1"), col("t2"))
      .limit(1)
    base.crossJoin(broadcast(best))
      .withColumn("m",
        graft.functions.BpeMergeOnce.mergeOnce(col("toks"), col("t1"), col("t2")))
      .select(
        col("doc_id"),
        concat_ws(" ", col("t1"), col("t2")).as("pair"),
        col("m.nm").as("n_merges"),
        size(col("m.toks")).cast("long").as("n_tok_after"),
        array_join(col("m.toks"), " ").as("merged_text"))
      .orderBy("doc_id")
  }

  /** Rounds the BPE training loop runs ([[bpeTrain]]); each round's winner
    * and merge count are oracle-replayed, so any divergence in ANY round
    * changes every later round's counts and fails the gate. */
  private[ops] val BpeTrainRounds = 8

  /** BPE TRAINING LOOP — [[bpeMerge]]'s single gated iteration run to a
    * mini-vocabulary: [[BpeTrainRounds]] deterministic rounds, each
    * picking the corpus-wide most-frequent adjacent pair (ties
    * lexicographic) and merging its occurrences left-to-right
    * non-overlapping in every document, exactly how a tokenizer trainer
    * builds its merge table. Structure per round (the MLlib iterate
    * pattern, like [[Vector.simsearchIvf]]'s Lloyd loop): the winner is a
    * ONE-ROW collect (TakeOrdered over [[adjacentPairCounts]] — bounded,
    * scale-independent driver state, the merge-table entry itself); the
    * merge is the codegen'd per-row loop
    * [[graft.functions.BpeMergeOnce]] over the per-doc token arrays with
    * the merge count observed inside the round's checkpoint job
    * ([[org.apache.spark.sql.Observation]] — no second action). A round
    * therefore shuffles NOTHING document-sized — only the pair counts
    * (the window spelling this replaces paid two full (doc_id, pos)
    * shuffle+sorts per round, 16 across the loop). The token-array
    * corpus is checkpointed between rounds so round k never replays
    * rounds 1..k−1 ([[Util.iterCheckpoint]] — conf-switchable to reliable
    * checkpoints for cluster-grade fault tolerance). The winner is bound
    * as a LITERAL (no 1-row crossJoin needed). Output: one row per round
    * — the learned merge-table prefix — with the pair, its count at
    * selection time, and the merges applied; the oracle replays all
    * [[BpeTrainRounds]] rounds CTE-by-CTE. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val (out, _) = bpeTrainLoop(spark, dir)
    import spark.implicits._
    out.toDF("round", "t1", "t2", "cnt", "n_merges").orderBy("round")
  }

  /** The shared training loop: returns the learned merge table AND the
    * final token-array corpus (the state [[bpeEncode]] serves from). */
  private def bpeTrainLoop(spark: SparkSession, dir: String)
      : (Seq[(Long, String, String, Long, Long)], DataFrame) = {
    val chain = new Util.ChainCheckpoint
    var corpus = chain(
      docs(spark, dir).select(col("doc_id"), split(col("text"), " ").as("toks")))
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long, Long)]()
    var r = 1
    var done = false
    while (r <= BpeTrainRounds && !done) {
      val bestRows = adjacentPairCounts(corpus)
        .orderBy(desc("cnt"), col("t1"), col("t2"))
        .limit(1).collect()
      if (bestRows.isEmpty) done = true // corpus merged down to 1-token docs
      else {
        val (t1, t2, cnt) =
          (bestRows(0).getString(0), bestRows(0).getString(1), bestRows(0).getLong(2))
        val obs = org.apache.spark.sql.Observation()
        val next = chain(
          corpus.select(col("doc_id"),
            graft.functions.BpeMergeOnce.mergeOnce(col("toks"), lit(t1), lit(t2)).as("m"))
            .observe(obs, coalesce(sum(col("m.nm")), lit(0L)).as("nm"))
            .select(col("doc_id"), col("m.toks").as("toks")))
        val nm = obs.get("nm").asInstanceOf[Long]
        out += ((r.toLong, t1, t2, cnt, nm))
        corpus = next
        r += 1
      }
    }
    (out.toSeq, corpus)
  }

  /** Write-once persisted BPE-encoded corpus per input content — tokenizer
    * BUILD/SERVE separation, same pattern as the persisted PQ/IVF
    * indexes: training (the iterated merge loop) runs once and lands in
    * a parquet layout; every serve-path call reads the layout and plans
    * ZERO training jobs. In production this artifact is the published
    * tokenizer output a 100 TB corpus is encoded against — retraining
    * per query would be the bug. */
  private def bpeEncodedLayout(spark: SparkSession, dir: String): String =
    CorpusScope.persisted("bpe", spark, dir, "documents") { a =>
      val out = a.path("d")
      val (_, corpus) = bpeTrainLoop(spark, dir)
      corpus.select(col("doc_id"), col("toks"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** BPE ENCODING — the serving half of the tokenizer: apply the
    * [[bpeTrain]]-learned merge table to every document and report the
    * encoded token stream with its compression ratio. (With the merge
    * table trained on this same corpus, the encoded state IS the training
    * loop's final corpus, so the one loop produces both the table and
    * the encoding — no second pass; a fresh-corpus encode would replay
    * the table with [[graft.functions.BpeMergeOnce]] per entry over the
    * new documents, same per-row machinery.) Scale shape: everything
    * per-doc arrays and one-row-collect winners, as [[bpeTrain]];
    * output is a per-row projection of the final corpus joined to the
    * pre-merge token counts. The oracle replays all [[BpeTrainRounds]]
    * rounds and reads the final tok CTE — any drift in ANY round's merge
    * shows up in the encoded text. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val corpus = spark.read.parquet(bpeEncodedLayout(spark, dir))
    val before = docs(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok_before"))
    corpus
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        array_join(col("toks"), " ").as("encoded_text"))
      .join(before, "doc_id")
      .select(col("doc_id"), col("n_tok_before"), col("n_tok"),
        r6(col("n_tok").cast("double") / col("n_tok_before").cast("double"))
          .as("compression"),
        col("encoded_text"))
      .orderBy("doc_id")
  }

  /** Unigram language-model scoring — the classic perplexity-style quality
    * filter for training corpora: score every document by the mean log
    * probability of its tokens under the corpus's own unigram model. Shape
    * at scale: one token hash agg builds the model (vocab-sized, shuffled
    * — never collected), the corpus total rides in as a one-row broadcast,
    * and documents join the model on token at (doc, distinct-token)
    * granularity — tf is aggregated per doc BEFORE the join so the join
    * input is bounded by distinct pairs, not token occurrences. Per-token
    * log-probs are r6-quantized to exact decimals before the per-doc sum,
    * making the mean order-independent (raw libm doubles summed in shuffle
    * order would differ between engines AND between retries). */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val tok = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val model = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = model.agg(sum(col("cnt")).as("tot"))
    val lp = r6(log(col("cnt").cast("double") / col("tot").cast("double")))
      .cast(DecimalType(16, 6))
    tf.join(model, "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).as("n_tok"),
        r4(sum(lp * col("tf")).cast("double")
          / sum(col("tf")).cast("double")).as("avg_logprob"),
        r4(min(lp).cast("double")).as("rarest_logprob"))
      .orderBy("doc_id")
  }

  /** Zipf-law fit over the token frequency distribution — the corpus
    * health diagnostic (natural text follows freq ∝ rank^s with s ≈ −1;
    * a flat or cliff-shaped fit flags synthetic or boilerplate-heavy
    * data). Counts are one explode + hash agg; the fit runs on the TOP
    * 100 ranks only (TakeOrderedAndProject — the head of the
    * distribution is where Zipf lives and the frame stays bounded at any
    * corpus size). OLS of r6-quantized ln(freq) on ln(rank) through
    * exact DECIMAL power sums, the [[Relational.aggCorrRegression]]
    * discipline — summation order cannot perturb slope/intercept/R². */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val top = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token")).limit(100)
    // window over the 100-row aggregated frame — bounded by construction
    val w = Window.orderBy(desc("n"), col("token"))
    val dec = DecimalType(16, 6)
    val q = top.withColumn("rank", row_number().over(w))
      .select(
        r6(log(col("rank").cast("double"))).cast(dec).as("x"),
        r6(log(col("n").cast("double"))).cast(dec).as("y"))
    q.agg(
        count(lit(1)).cast("double").as("nd"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
      .select(
        col("nd").cast("long").as("n_ranks"),
        r4((col("nd") * col("sxy") - col("sx") * col("sy"))
          / (col("nd") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        r4((col("sy") - (col("nd") * col("sxy") - col("sx") * col("sy"))
          / (col("nd") * col("sxx") - col("sx") * col("sx")) * col("sx"))
          / col("nd")).as("intercept"),
        r4(((col("nd") * col("sxy") - col("sx") * col("sy"))
          * (col("nd") * col("sxy") - col("sx") * col("sy")))
          / ((col("nd") * col("sxx") - col("sx") * col("sx"))
            * (col("nd") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  /** Gopher-style REPETITION quality signals — the two duplicate-content
    * fractions the Gopher/MassiveText filtering rules cut on (Rae et al.
    * 2021, public): the duplicate-token fraction (1 − distinct/total) and
    * the top-bigram token fraction — 2·max_count/n_toks clamped to 1.0,
    * since overlapping occurrences of a self-repeating bigram ("spam
    * spam" in "spam spam spam") double-count tokens; the clamp keeps it
    * a true ≤1 coverage fraction like Gopher's duplicate-2-gram rule.
    * Per-doc token stats are
    * codegen'd array projections; the per-doc max-bigram count is an
    * explode → (doc_id, bigram) partial-agg → per-doc max — both
    * aggregations are keyed BY doc_id, so no bigram, however hot
    * globally, ever concentrates on one task (contrast a global bigram
    * count, which needs the [[NgramDfCap]]-style discipline). Flag
    * thresholds apply to doubles computed by the identical IEEE
    * expression in both engines; per-source averages go through r6
    * decimals so summation order can't perturb them. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_dist", size(array_distinct(col("toks"))).cast("long"))
    // The per-doc max-bigram multiplicity is a PER-ROW statistic: sort
    // the row's own bigram array and fold for the longest equal run —
    // multiplicity in a sorted list IS run length. The previous shape
    // (explode → groupBy(doc_id, bg) → groupBy(doc_id)) shuffled the
    // entire corpus token stream twice for the same number; at 100 TB
    // that was THE cost of this query (measured 0.7 s → 3.1 s growing
    // with fixture size at sf0.1; per-row form removes both exchanges).
    // The oracle keeps its unnest+GROUP BY spelling — identical values.
    val maxBgRun = expr(
      """aggregate(
           array_sort(transform(sequence(0, size(toks) - 2),
             i -> concat(toks[i], ' ', toks[i+1]))),
           named_struct('prev', '', 'run', 0L, 'best', 0L),
           (st, x) -> named_struct(
             'prev', x,
             'run', IF(x = st.prev, st.run + 1L, 1L),
             'best', GREATEST(st.best, IF(x = st.prev, st.run + 1L, 1L))),
           st -> st.best)""")
    val fracs = d
      .withColumn("max_bg", when(col("n_toks") >= 2, maxBgRun).otherwise(lit(0L)))
      .withColumn("dup_frac",
        lit(1.0) - col("n_dist").cast("double") / col("n_toks").cast("double"))
      .withColumn("bg_frac",
        when(col("n_toks") >= 2,
          least(lit(1.0), col("max_bg").cast("double") * 2.0
            / col("n_toks").cast("double"))).otherwise(lit(0.0)))
      .withColumn("flagged", col("dup_frac") > 0.2 || col("bg_frac") > 0.2)
    val dec = DecimalType(16, 6)
    fracs.groupBy("source", "flagged")
      .agg(count(lit(1)).as("n_docs"),
        r4(sum(r6(col("dup_frac")).cast(dec)).cast("double")
          / count(lit(1)).cast("double")).as("avg_dup_frac"),
        r4(sum(r6(col("bg_frac")).cast(dec)).cast("double")
          / count(lit(1)).cast("double")).as("avg_bg_frac"),
        r6(max(col("bg_frac"))).as("max_bg_frac"))
      .orderBy("source", "flagged")
  }

  /** Adjacent-bigram PMI — the collocation mining pass (pointwise mutual
    * information, Church & Hanks 1990) that surfaces multi-word units
    * worth protecting from tokenizer splits. Three corpus-wide counts —
    * bigram occurrences, unigram occurrences, total tokens — then
    * PMI = ln(c_ab·N / (c_a·c_b)) on the distinct-bigram table. Scale
    * shape: both count aggregations are map-side-partial hash aggs (hot
    * tokens collapse before the shuffle); the two count joins key on a
    * single token against the VOCABULARY-sized count table — bigram
    * TYPES join, never token occurrences, so the join input is the
    * distinct-bigram table, orders of magnitude below the corpus. The
    * one-row total broadcasts. Output is min-support top-20 by PMI via
    * a (pmi, a, b) total order + LIMIT → TakeOrderedAndProject. */
  def pmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(split(col("text"), " ").as("toks"))
    val uni = d.select(explode(col("toks")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).as("n_total"))
    val bi = d.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS a, toks[i+1] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 3)
    bi.join(uni.select(col("t").as("a"), col("cu").as("ca")), "a")
      .join(uni.select(col("t").as("b"), col("cu").as("cb")), "b")
      .crossJoin(broadcast(total))
      .withColumn("pmi", r4(log(
        col("cab").cast("double") * col("n_total").cast("double")
          / (col("ca").cast("double") * col("cb").cast("double")))))
      .select(col("a"), col("b"), col("cab"), col("ca"), col("cb"), col("pmi"))
      .orderBy(desc("pmi"), col("a"), col("b"))
      .limit(20)
  }

  /** Heaps'-law fit V = K·N^β — how fast the vocabulary grows as the
    * corpus is ingested in doc-id order, the curve that sizes
    * tokenizer vocab budgets and predicts novelty saturation
    * ([[ngramNovelty]]'s parametric cousin). NO prefix rescans and no
    * global sort: each token's FIRST-occurrence doc (one hash agg:
    * min doc_id per token) and each doc's token count place every
    * contribution into one of 16 doc-id-range checkpoints, and the
    * running (N, V) curve is a cumulative sum over the 16-row frame.
    * The log-log OLS runs on those ≤16 points with r6→DECIMAL terms.
    * β ∈ (0,1) is the Heaps regime; β ≈ 1 means vocabulary still
    * growing linearly (far from saturation). */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val d = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val mx = d.agg(max(col("doc_id")).as("mx"))
    // checkpoint index of a doc: ceil(16·id/mx) in EXACT integer math
    // ((a + mx - 1) div mx with a = 16·id; `div` is Spark's integral
    // divide, `//` DuckDB's — both exact longs), clamped to [1, 16]
    val ck = expr(
      "greatest(1L, least(16L, (doc_id * 16 + mx - 1) div mx))")
    val nPer = d.select(col("doc_id"), size(col("toks")).cast("long").as("nt"))
      .crossJoin(broadcast(mx))
      .groupBy(ck.as("cp")).agg(sum(col("nt")).as("dn"))
    val vPer = d.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy("t").agg(min(col("doc_id")).as("fo"))
      .crossJoin(broadcast(mx))
      .select(col("fo").as("doc_id"), col("mx"))
      .groupBy(ck.as("cp")).agg(count(lit(1)).as("dv"))
    val grid = nPer.join(vPer, Seq("cp"), "full_outer")
      .select(col("cp"), coalesce(col("dn"), lit(0L)).as("dn"),
        coalesce(col("dv"), lit(0L)).as("dv"))
    val w = Window.orderBy("cp")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = grid
      .withColumn("nn", sum(col("dn")).over(w))
      .withColumn("vv", sum(col("dv")).over(w))
      .filter(col("nn") > 0 && col("vv") > 0)
      .select(log(col("nn").cast("double")).as("x"),
        log(col("vv").cast("double")).as("y"),
        col("nn"), col("vv"))
    val tot = pts.agg(max(col("nn")).as("n_tokens"),
      max(col("vv")).as("n_vocab"))
    val s = pts.agg(count(lit(1)).as("m"),
      sum(r6(col("x")).cast(d166)).as("sx"),
      sum(r6(col("y")).cast(d166)).as("sy"),
      sum(r6(col("x") * col("y")).cast(d166)).as("sxy"),
      sum(r6(col("x") * col("x")).cast(d166)).as("sxx"),
      sum(r6(col("y") * col("y")).cast(d166)).as("syy"))
    def dd(cn: String) = col(cn).cast("double")
    val mD = dd("m")
    val det = mD * dd("sxx") - dd("sx") * dd("sx")
    val beta = (mD * dd("sxy") - dd("sx") * dd("sy")) / det
    val lnK = (dd("sy") - beta * dd("sx")) / mD
    val ssTot = dd("syy") - dd("sy") * dd("sy") / mD
    val ssRes = ssTot - beta * beta * det / mD
    val ok = col("m") >= 3 && abs(det) > lit(0.0)
    s.crossJoin(broadcast(tot)).select(
      col("n_tokens"), col("n_vocab"), col("m").as("n_checkpoints"),
      r6(when(ok, beta)).as("beta"),
      r4(when(ok, exp(lnK))).as("k_coef"),
      r6(when(ok && ssTot > 0, lit(1.0) - ssRes / ssTot)).as("r2"))
  }

  /** Dunning log-likelihood-ratio (G²) collocations — the
    * significance-aware ranking that fixes [[pmiBigrams]]'s known
    * rare-pair bias: PMI maxes out on hapax pairs, while G² weighs the
    * full 2×2 contingency of (first-position, second-position) bigram
    * marginals, so high scores need both association AND evidence.
    * Spelled via the entropy identity G² = 2(Σ xlx(k_ij) − Σ xlx(row)
    * − Σ xlx(col) + xlx(N)) with xlx(0)=0 — every argument an exact
    * long off the bigram count frame (marginals computed BEFORE the
    * min-count filter, as the table demands), the score ONE double
    * expression per row, r4 at output. Shape at scale: bigram hash agg
    * → two marginal hash aggs joined back on the bigram's own keys —
    * no window, no double ever summed across rows. */
  def collocationLlr(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(split(col("text"), " ").as("toks"))
    val bi = d.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS a, toks[i+1] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val ma = bi.groupBy("a").agg(sum(col("cab")).as("ca1"))
    val mb = bi.groupBy("b").agg(sum(col("cab")).as("cb2"))
    val tot = bi.agg(sum(col("cab")).as("nb"))
    def xlx(c: Column): Column =
      when(c > 0, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0))
    val j = bi.filter(col("cab") >= 5)
      .join(ma, "a").join(mb, "b").crossJoin(broadcast(tot))
    val g2 = lit(2.0) * (xlx(col("cab")) + xlx(col("ca1") - col("cab")) +
      xlx(col("cb2") - col("cab")) +
      xlx(col("nb") - col("ca1") - col("cb2") + col("cab")) -
      xlx(col("ca1")) - xlx(col("nb") - col("ca1")) -
      xlx(col("cb2")) - xlx(col("nb") - col("cb2")) + xlx(col("nb")))
    j.select(col("a"), col("b"), col("cab"), col("ca1"), col("cb2"),
        r4(g2).as("llr"))
      .orderBy(desc("llr"), col("a"), col("b"))
      .limit(20)
  }

  /** Interpolated Kneser-Ney bigram probabilities (absolute discount
    * D = 0.75) — the smoothing a real n-gram LM ships with, where
    * [[bigramLmScore]]'s add-k is the classroom baseline: mass is
    * discounted from observed bigrams and backed off to the
    * CONTINUATION unigram (how many distinct left-contexts a word
    * follows — "Francisco" is frequent but predictable, so its
    * continuation mass is tiny). Every ingredient is an exact count
    * off the bigram type/token frames: c(w1w2), c(w1·), the fan-out
    * N1+(w1·), the fan-in N1+(·w2), and the bigram-type total B;
    * P_kn = (max(c−D,0) + D·N1+(w1·)·N1+(·w2)/B)/c(w1·) is one double
    * expression per row, r6 at output. Shape at scale: one bigram hash
    * agg feeds four marginal aggs, all joined back on the bigram's own
    * keys — counts distribute, the smoothing is scalar math. */
  def kneserNey(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(split(col("text"), " ").as("toks"))
    val bi = d.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS a, toks[i+1] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val ma = bi.groupBy("a")
      .agg(sum(col("cab")).as("c1"), count(lit(1)).as("n1p"))
    val mb = bi.groupBy("b").agg(count(lit(1)).as("n1m"))
    val tot = bi.agg(count(lit(1)).as("btypes"))
    def dd(c: Column) = c.cast("double")
    val j = bi.join(ma, "a").join(mb, "b").crossJoin(broadcast(tot))
    val pCont = dd(col("n1m")) / dd(col("btypes"))
    val pKn = (greatest(dd(col("cab")) - lit(0.75), lit(0.0)) +
      lit(0.75) * dd(col("n1p")) * pCont) / dd(col("c1"))
    j.select(col("a"), col("b"), col("cab"), col("c1"), col("n1p"),
        col("n1m"), r6(pCont).as("p_cont"), r6(pKn).as("p_kn"))
      .orderBy(desc("cab"), col("a"), col("b"))
      .limit(20)
  }

  /** Sequence PACKING layout — the concat-and-chunk packing a training
    * run uses to fill fixed context windows (here C = 256 tokens):
    * documents are concatenated in doc_id order and cut every C tokens,
    * so a doc whose token span crosses a cut boundary is split across
    * windows. Packing needs a serial prefix sum, which would serialize
    * on a per-SOURCE window at corpus scale, so the layout packs within
    * (source, shard) — shard = doc_id div 64 — the way real pipelines
    * pack per output file: each shard's prefix sum is an independent
    * bounded-partition window task, at the cost of one possibly-unfilled
    * final window per shard (the fill_frac column prices that loss).
    * All arithmetic is exact integer division; the only double is the
    * final fill ratio. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = 256L
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("shard", expr("doc_id div 64"))
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = d
      .withColumn("off", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .withColumn("w0", expr(s"off div $c"))
      .withColumn("w1", expr(s"(off + n_toks - 1) div $c"))
    packed.groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"),
        (max(col("w1")) + 1).as("n_windows"),
        sum(when(col("w0") =!= col("w1"), 1L).otherwise(0L)).as("n_split"))
      .groupBy("source")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        count(lit(1)).as("n_shards"),
        sum(col("n_windows")).as("n_windows"),
        sum(col("n_split")).as("n_split_docs"),
        r4(sum(col("n_toks")).cast("double")
          / (sum(col("n_windows")) * lit(c)).cast("double")).as("fill_frac"))
      .orderBy("source")
  }

  /** Bigram language-model scoring — [[unigramLogprob]]'s conditional
    * sibling and the CCNet-style quality filter: an add-k-smoothed
    * bigram LM (k = 0.5) is trained on the corpus itself, and each doc
    * is scored by its mean log transition probability
    * log((c(w1,w2)+0.5)/(c(w1)+0.5·V)). Low scores = improbable word
    * sequences (boilerplate, mangled text); `rarest_logprob` surfaces
    * the single worst transition. Shape at scale: one explode feeds
    * three map-side-combined count aggregates (doc-tf, bigram model,
    * history counts); scoring is two hash joins keyed on the bigram /
    * its history — model-sized sides, never |corpus|²; V rides a
    * one-row broadcast. History counts derive from bigram STARTS
    * (Σ_w2 c(w1,w2)), the spelling that keeps the distribution
    * normalized. Exactness: each transition's log-prob is r6-rounded
    * then fixed as DECIMAL(16,6) ([[unigramLogprob]]'s trick), so the
    * tf-weighted per-doc sums are order-independent on both engines. */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    val bi = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val tf = bi.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val lp = r6(log((col("c12").cast("double") + lit(0.5)) /
      (col("c1").cast("double") + lit(0.5) * col("v").cast("double"))))
      .cast(DecimalType(16, 6))
    tf.join(c12, Seq("w1", "w2")).join(c1, "w1").crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        r4(sum(lp * col("tf")).cast("double")
          / sum(col("tf")).cast("double")).as("avg_logprob"),
        r4(min(lp).cast("double")).as("rarest_logprob"))
      .orderBy("doc_id")
  }

  /** Vocabulary coverage curve — the tokenizer-budget planner's table:
    * what fraction of all corpus TOKENS the top-k vocabulary entries
    * cover, at k ∈ {100, 1k, 10k}. Shape at scale: one explode →
    * map-side-combined token counts; ranking and cumulation run over
    * the VOCAB aggregate (the `text_vocab_build` discipline), and the
    * 3-way k fan-out multiplies only that aggregate. `vocab_used`
    * reports min(k, |vocab|), so a small corpus is visible rather than
    * silently extrapolated. All counts exact; coverage is one IEEE
    * division before r6. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val ord = Window.orderBy(desc("n"), col("token"))
    val ranked = counts
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("cum", sum(col("n")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("n")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    ranked
      .select(explode(array(lit(100L), lit(1000L), lit(10000L))).as("k"),
        col("rank"), col("cum"), col("tot"))
      .filter(col("rank") <= col("k"))
      .groupBy("k")
      .agg(max(col("rank")).as("vocab_used"), max(col("cum")).as("covered"),
        max(col("tot")).as("tot"))
      .select(col("k"), col("vocab_used"),
        r6(col("covered").cast("double") / col("tot").cast("double")).as("coverage"))
      .orderBy("k")
  }

  /** Per-source token-length quantiles (p50/p90/p99, LOWER quantile —
    * no interpolation) — the length profile that sizes chunking and
    * packing budgets per corpus slice. Same CDF-over-the-distribution
    * shape as `agg_weighted_median`: docs collapse once to
    * (source, len) counts, the cumulative window runs over that
    * aggregate, and each quantile is the first length whose cumulative
    * reaches ⌈q·n⌉ — all comparisons exact integer cross-products
    * (cum·100 ≥ tot·99), nothing floating anywhere. */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val g = docs(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("len"))
      .groupBy("source", "len").agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("source")
    g.withColumn("cum", sum(col("c")).over(wc))
      .withColumn("tot", sum(col("c")).over(wf))
      .groupBy("source")
      .agg(min(when(col("cum") * 2 >= col("tot"), col("len"))).as("p50"),
        min(when(col("cum") * 10 >= col("tot") * 9, col("len"))).as("p90"),
        min(when(col("cum") * 100 >= col("tot") * 99, col("len"))).as("p99"),
        max(col("tot")).as("n_docs"))
      .orderBy("source")
  }

  /** Per-source readability profile — Flesch reading ease with the
    * deterministic proxies a no-NLP-dependency engine can ship:
    * sentences = punctuation-run count (floored at 1 — the synthetic
    * corpus has none), syllables = vowel-group count. FRE = 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words). The absolute
    * number is a heuristic; its VALUE is the per-source ordering (a
    * quality-mix screen alongside `text_quality_buckets`). Shape at
    * scale: three per-row regex projections, then one map-side-combined
    * hash agg per source — scales like tokenize. Exactness: counts are
    * exact longs; each doc's FRE is r4→DECIMAL(12,4) BEFORE the
    * order-independent sum (libm-free but two IEEE divisions deep);
    * both engines count regex matches with the same greedy classes. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val d124 = DecimalType(12, 4)
    val w = size(split(col("text"), " ")).cast("long")
    val s = greatest(lit(1),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))).cast("long")
    val sy = size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))
      .cast("long")
    val fre = lit(206.835) -
      lit(1.015) * (col("w").cast("double") / col("s").cast("double")) -
      lit(84.6) * (col("sy").cast("double") / col("w").cast("double"))
    docs(spark, dir)
      .select(col("source"), w.as("w"), s.as("s"), sy.as("sy"))
      .withColumn("fre", r4(fre).cast(d124))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        r6(sum(col("sy")).cast("double") / sum(col("w")).cast("double"))
          .as("syll_per_word"),
        r4(sum(col("fre")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_fre"))
      .orderBy("source")
  }

  /** Winnowing fingerprint selection (the MOSS algorithm): hash every
    * token 3-gram, slide a 4-hash window over the position-ordered hash
    * sequence, select each window's minimum — the guarantee is that any
    * shared run of ≥ w+k−1 tokens between two documents shares at least
    * one SELECTED fingerprint, so matching can index only the selected
    * set (≈ 2/(w+1) of all grams) instead of every gram. That selected-
    * set-only index is the whole point at 100 TB: the plagiarism/overlap
    * index stores a constant fraction of the corpus grams with a
    * provable no-miss window. Per-row only — arrays never explode; the
    * hash is the md5-prefix BIGINT both engines spell identically.
    * Docs shorter than one full window keep their single overall min
    * (the standard boundary rule); docs under k tokens select nothing.
    * Output per doc: gram count, selected count, selection density vs
    * the 2/(w+1)=0.4 expectation, and the min selected fingerprint. */
  /** 3-gram rolling hashes of a token array, position-ordered; 15 md5 hex
    * chars < 2^60. Exposed for the winnowing-guarantee property spec. */
  private[graft] def winnowGramHashes(toks: Column): Column = {
    val n = size(toks)
    // (r16 optimization round: an element_at×3 + concat respell of the
    // gram string — avoiding the per-gram slice() copy — was A/B'd
    // SLOWER, 6.9 s vs 3.7 s for the query: HOF lambdas evaluate
    // interpreted, where several boxed element_at evals cost more than
    // one slice+concat_ws. The slice spelling stays.)
    when(n >= 3, transform(sequence(lit(1), greatest(n - 2, lit(0))), i =>
      conv(substring(md5(concat_ws(" ",
        slice(toks, i, lit(3))).cast("binary")), 1, 15), 16, 10).cast("long")))
      .otherwise(array().cast("array<long>"))
  }

  /** Winnowing selection over a gram-hash array: distinct minima of every
    * length-4 sliding window (single overall min when shorter than one
    * window). */
  private[graft] def winnowSelect(hs: Column): Column = {
    val nh = size(hs)
    // (r16 optimization round: a least-of-four-element_at respell of
    // the window min was A/B'd slower together with the gram-hash
    // respell above — same interpreted-HOF lesson; slice stays.)
    when(nh >= 1, array_distinct(transform(
      sequence(lit(1), greatest(nh - 3, lit(1))), j =>
        array_min(slice(hs, j, least(lit(4), nh))))))
      .otherwise(array().cast("array<long>"))
  }

  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    val nh = size(col("hs"))
    docs(spark, dir)
      .withColumn("hs", winnowGramHashes(split(col("text"), " ")))
      .withColumn("sel", winnowSelect(col("hs")))
      .select(col("doc_id"),
        nh.cast("long").as("n_grams"),
        size(col("sel")).cast("long").as("n_selected"),
        when(nh >= 1, r4(size(col("sel")).cast("double") / nh.cast("double")))
          .as("density"),
        array_min(col("sel")).as("fp_min"))
      .orderBy("doc_id")
  }

  /** Corpus-novelty curve — the curation question "how fast does new
    * data stop adding new content": per doc-id decile (ingestion-order
    * proxy), what fraction of each document's distinct 3-shingles is
    * NOVEL, i.e. first seen in that document (global min doc_id owns
    * the shingle). A healthy fresh corpus holds a high rate in late
    * deciles; template/boilerplate saturation shows as early collapse —
    * the aggregate view behind [[textDecontaminate]]'s pairwise checks.
    * Shape at scale: one shingle explode feeding TWO map-side-combined
    * hash aggs — the global min-owner per shingle and the per-doc
    * distinct count — with per-doc novelty read off by COUNTING OWNERS
    * BY DOC (each shingle has exactly one min owner), so nothing is
    * ever joined or windowed on the high-cardinality shingle key; the
    * only join is doc-keyed. Decile bounds come from a broadcast
    * one-row min/max — exact integer math, no global rank window. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // the n>=3 filter (not greatest(n-2, 0)) guards Spark's sequence():
    // stop < start generates a DESCENDING sequence, not an empty one
    val shRaw = d.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(expr(
          """transform(sequence(1, size(split(text, ' ')) - 2),
             i -> concat_ws(' ', slice(split(text, ' '), i, 3)))"""))
          .as("shingle"))
    // r17 optimization round (VERDICT-r16 #1 companion): the r16
    // shingle-partitioned WINDOW min put every holder of a hot shingle
    // into one task with no map-side combine. Respelled as two
    // map-side-combinable aggregates with NO shingle-keyed window or
    // join: the owner side is a partial-agg min per shingle over the
    // RAW exploded rows (min over duplicate (doc, shingle) rows is
    // identical, so the distinct is dropped there — only the per-doc
    // distinct count still pays the full (doc, shingle) exchange), and
    // per-doc novel counts fall out of COUNTING OWNERS BY DOC (each
    // shingle has exactly one min owner, so novelty never needs to be
    // attached back to shingle rows at all). The only join left is
    // doc-keyed at doc-count cardinality. Measured flat at sf0.1
    // (2.0-2.1 s both spellings, OPTIMIZATION_r17.md) with the hot-shingle
    // single-task risk gone — partial aggregation bounds every task.
    val perDocTotal = shRaw.distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val novel = shRaw.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    val perDoc = perDocTotal.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
    val bounds = d.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    perDoc.crossJoin(broadcast(bounds))
      .withColumn("decile", least(lit(9L),
        floor((col("doc_id") - col("lo")) * 10 /
          (col("hi") - col("lo") + 1)).cast("long")))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("n_shingles"),
        sum(col("n_novel")).as("n_novel"),
        r6(sum(col("n_novel")).cast("double") /
          sum(col("n_sh")).cast("double")).as("novelty_rate"))
      .orderBy("decile")
  }

  /** RAKE keyword extraction (Rose et al. 2010): split each document
    * into candidate phrases at stopword boundaries, score each word by
    * degree/frequency (degree = Σ length of phrases containing it —
    * rewards words that travel in long collocations), score a phrase as
    * the sum of its word scores, and report the corpus top-20 phrases.
    * Stopword set = the corpus' 5 pipeline stopwords (the
    * [[gopherRules]] set). Shape at scale: phrase assembly is one
    * per-doc partitioned window (running stopword count = phrase id) +
    * a (doc, phrase-id) hash agg; word stats and phrase scoring are
    * hash aggs keyed on word/phrase — nothing quadratic, no global
    * window. Exactness: word scores are exact-int ratios r6→DECIMAL
    * before the per-phrase sum (order-independent). */
  def keywordRake(spark: SparkSession, dir: String): DataFrame = {
    val d166 = DecimalType(16, 6)
    val stop = Seq("join", "filter", "sort", "merge", "window")
    val order = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val toks = docs(spark, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("is_stop", col("tok").isInCollection(stop))
      .withColumn("pid",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(order))
      .filter(!col("is_stop"))
    val phrases = toks.groupBy("doc_id", "pid")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok")), " ").as("phrase"),
        count(lit(1)).as("n_words"))
    val wordScore = phrases
      .select(explode(split(col("phrase"), " ")).as("w"), col("n_words"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("deg"))
      .select(col("w"),
        r6(col("deg").cast("double") / col("freq").cast("double")).as("ws"))
    val distinctPhrases = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"))
    distinctPhrases
      .select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordScore, "w")
      .groupBy("phrase")
      .agg(max(col("n_occ")).as("n_occ"),
        count(lit(1)).as("n_words"),
        (sum(col("ws").cast(d166)).cast("double")).as("sc"))
      .select(col("phrase"), col("n_words"), col("n_occ"), r4(col("sc")).as("score"))
      .orderBy(desc("score"), col("phrase")).limit(20)
  }

  /** Lexical burstiness — the variance-to-mean ratio (index of
    * dispersion) of each token's per-document counts, with implicit
    * zeros: a Poisson-scattered function word sits at VMR ≈ 1, a bursty
    * content word (all its mass in a few docs) far above — the signal
    * that separates topical vocabulary from glue, and the lexical
    * complement of [[graft.ops.Relational.eventsInterarrivalStats]]'
    * temporal burstiness. VMR with implicit zeros needs only moments:
    * var = Σn²/N − (Σn/N)², so absent docs never materialize. One
    * explode → (token, doc) hash agg → per-token agg; all moments exact
    * longs, the N divisor from a broadcast one-row count; top-20 by
    * frequency. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("n"))
    val nDocs = docs(spark, dir).agg(count(lit(1)).as("nd"))
    perDoc.groupBy("token")
      .agg(sum(col("n")).as("occ"),
        count(lit(1)).as("docs_present"),
        sum(col("n") * col("n")).as("sumsq"))
      .crossJoin(broadcast(nDocs))
      .withColumn("mean", col("occ").cast("double") / col("nd").cast("double"))
      .withColumn("vmr",
        (col("sumsq").cast("double") / col("nd").cast("double")
          - col("mean") * col("mean")) / col("mean"))
      .select(col("token"), col("occ"), col("docs_present"),
        r6(col("mean")).as("mean_per_doc"), r6(col("vmr")).as("vmr"),
        (col("vmr") > 1.5).as("bursty"))
      .orderBy(desc("occ"), col("token")).limit(20)
  }

  /** Code-vs-prose detection per source — the corpus-curation router
    * that decides which cleaning/dedup/tokenizer path a document takes
    * (code wants identifier-preserving tokenization and no stopword
    * heuristics; prose wants the opposite). Detector: the density of
    * code-punctuation characters ({}();=[]), counted as a length delta
    * after one regexp strip — no tokenizer, O(chars), and the exact
    * same regex character class evaluates in both engines. A doc is
    * code-like above 2% density (typical prose sits ≪ 1%; real code
    * 5–15%). Report per source: doc counts, code-like share, and the
    * mean density (r6-floored decimal mean). One scan, one hash agg. */
  def codeDetect(spark: SparkSession, dir: String): DataFrame = {
    val stripped = regexp_replace(col("text"), "[{}();=\\[\\]]", "")
    val ratio = (length(col("text")) - length(stripped)).cast("double") /
      greatest(length(col("text")), lit(1)).cast("double")
    docs(spark, dir)
      .select(col("source"), r6(ratio).as("r"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("r") > 0.02, 1L).otherwise(0L)).as("n_code_like"),
        sum(col("r").cast(org.apache.spark.sql.types.DecimalType(20, 6)))
          .cast("double").as("sr"))
      .select(col("source"), col("n_docs"), col("n_code_like"),
        r6(col("n_code_like").cast("double") / col("n_docs").cast("double"))
          .as("code_share"),
        r6(col("sr") / col("n_docs").cast("double")).as("avg_density"))
      .orderBy("source")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public paper):
    * score every raw-corpus doc by how much more likely its tokens are
    * under the TARGET distribution (here the `lang='en'` slice, the
    * stand-in for a high-quality target set) than under the RAW corpus
    * distribution: w(doc) = mean_t [ln p_tgt(t) − ln p_raw(t)], add-0.5
    * smoothed unigrams over the shared vocabulary. High-w docs are the
    * ones importance resampling would keep for an en-targeted mix.
    * Shape at scale: two map-side-combined token-count aggregates
    * (target is a filtered twin, not a second scan family), the
    * log-ratio table is VOCAB-sized and joins the doc-tf frame by
    * token, the top-20 rides TakeOrdered. Exactness: each token's
    * log-ratio is r6-rounded then fixed as DECIMAL(16,6) (the
    * [[bigramLmScore]] trick) so tf-weighted per-doc sums are
    * order-independent on both engines. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("t"))
    val tf = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val raw = toks.groupBy("t").agg(count(lit(1)).as("c_raw"))
    val tgt = toks.filter(col("lang") === "en")
      .groupBy("t").agg(count(lit(1)).as("c_tgt"))
    val totals = toks.agg(
      sum(lit(1L)).as("n_raw"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_tgt"),
      countDistinct(col("t")).as("v"))
    val ratio = raw.join(tgt, Seq("t"), "left").crossJoin(broadcast(totals))
      .select(col("t"),
        r6(log((coalesce(col("c_tgt"), lit(0L)).cast("double") + lit(0.5)) /
            (col("n_tgt").cast("double") + lit(0.5) * col("v").cast("double"))) -
          log((col("c_raw").cast("double") + lit(0.5)) /
            (col("n_raw").cast("double") + lit(0.5) * col("v").cast("double"))))
          .cast(DecimalType(16, 6)).as("lr"))
    tf.join(ratio, "t")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        r4(sum(col("lr") * col("tf")).cast("double") /
          sum(col("tf")).cast("double")).as("dsir_weight"))
      .orderBy(desc("dsir_weight"), col("doc_id")).limit(20)
  }

  /** Per-source token-LENGTH distribution drift — KL(P_src ‖ P_corpus)
    * over the integer token-length histogram, the one-number "does this
    * source's prose shape diverge from the mix?" audit a multi-source
    * training pipeline runs before reweighting ([[docsDomainMix]] tells
    * you the mix; this tells you which slice is distributionally odd).
    * Shape at scale: docs collapse to (source, len) counts in one
    * map-side-combined agg; the KL join is (#sources × #lengths)-sized
    * — model-sized at any corpus. Add-0.5 smoothing keeps every
    * corpus-support length in every source's domain (KL finite by
    * construction); each length's ln-ratio is r6/DECIMAL-fixed so the
    * per-source sum is order-independent. */
  def wordlenKl(spark: SparkSession, dir: String): DataFrame = {
    val lens = docs(spark, dir)
      .select(col("source"),
        explode(transform(split(col("text"), " "),
          t => length(t).cast("long"))).as("len"))
    val bySrc = lens.groupBy("source", "len").agg(count(lit(1)).as("c"))
    val srcTot = lens.groupBy("source").agg(count(lit(1)).as("n_src"))
    val corpus = lens.groupBy("len").agg(count(lit(1)).as("c_all"))
    val corpusTot = lens.agg(sum(lit(1L)).as("n_all"),
      countDistinct(col("len")).as("nl"))
    // full (source × corpus-support length) grid so a length a source
    // never emits still contributes its smoothed mass to the KL sum
    val grid = srcTot.crossJoin(corpus).crossJoin(broadcast(corpusTot))
    grid.join(bySrc, Seq("source", "len"), "left")
      .select(col("source"), col("n_src"), col("nl"),
        (coalesce(col("c"), lit(0L)).cast("double") + lit(0.5)).as("cs"),
        (col("n_src").cast("double") +
          lit(0.5) * col("nl").cast("double")).as("ns"),
        (col("c_all").cast("double") + lit(0.5)).as("ca"),
        (col("n_all").cast("double") +
          lit(0.5) * col("nl").cast("double")).as("na"))
      .select(col("source"), col("n_src"),
        ((col("cs") / col("ns")) *
          r6(log((col("cs") / col("ns")) / (col("ca") / col("na"))))
            .cast(DecimalType(16, 6)).cast("double")).as("term"))
      .groupBy("source")
      .agg(max(col("n_src")).as("n_tokens"),
        r6(sum(r6(col("term")).cast(DecimalType(16, 6))).cast("double"))
          .as("kl_nats"))
      .orderBy("source")
  }

  /** Sorted-neighborhood dedup (Hernández & Stolfo's classic ER blocking
    * — the third candidate-generation technique next to the repo's LSH
    * banding and embedding buckets): records sort by a normalized
    * BLOCKING KEY (text with spaces stripped, first 48 chars) and only
    * a w=3 sliding window of sorted neighbors is compared — O(n·w)
    * candidates instead of O(n²). Shape at scale: the sort is
    * PARTITIONED by the key's 6-char prefix (the window cannot cross a
    * prefix boundary anyway, since a pair that differs in the first 6
    * chars can never reach match_level ≥ 16), so no global sort; the
    * neighbor probe is lead() — one partitioned window stage, zero
    * joins. match_level grades the shared-prefix depth (32/24/16, the
    * graded-prefix spelling that avoids cross-engine LCP loops);
    * candidates need level ≥ 16 AND a char-length gap ≤ 40. */
  def dedupSortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    val sk = substring(regexp_replace(col("text"), " ", ""), 1, 48)
    val base = docs(spark, dir)
      .select(col("doc_id"), col("n_chars"), sk.as("sk"))
      .withColumn("bkt", substring(col("sk"), 1, 6))
    val w = Window.partitionBy("bkt").orderBy("sk", "doc_id")
    // lead() lands in its own projection first: a window expression is
    // not allowed inside a generator (explode) argument
    val led = base.select(Seq(col("doc_id"), col("n_chars"), col("sk")) ++
      (1 to 3).flatMap(k => Seq(
        lead(col("doc_id"), k).over(w).as(s"b$k"),
        lead(col("sk"), k).over(w).as(s"s$k"),
        lead(col("n_chars"), k).over(w).as(s"c$k"))): _*)
    val probes = (1 to 3).map(k => struct(lit(k).as("k"),
      col(s"b$k").as("b_id"), col(s"s$k").as("b_sk"),
      col(s"c$k").as("b_chars")))
    val lvl = when(substring(col("sk"), 1, 32) ===
        substring(col("p.b_sk"), 1, 32), 32L)
      .when(substring(col("sk"), 1, 24) ===
        substring(col("p.b_sk"), 1, 24), 24L)
      .when(substring(col("sk"), 1, 16) ===
        substring(col("p.b_sk"), 1, 16), 16L)
      .otherwise(0L)
    led
      .select(col("doc_id"), col("n_chars"), col("sk"),
        explode(array(probes: _*)).as("p"))
      .filter(col("p.b_id").isNotNull)
      .select(col("doc_id").as("a"), col("p.b_id").as("b"),
        col("p.k").cast("long").as("dist"), lvl.as("match_level"),
        col("n_chars").as("a_chars"), col("p.b_chars").as("b_chars"))
      .filter(col("match_level") >= 16L &&
        abs(col("a_chars") - col("b_chars")) <= 40L)
      .orderBy("a", "b")
  }

  /** Top-P profile depth for [[langidNgram]] (language side) and top-D
    * document signature depth — the Cavnar–Trenkle "out-of-place"
    * constants, small because rank agreement concentrates at the head. */
  private val LangProfTop = 20
  private val LangDocTop = 10

  /** Character-n-gram LANGUAGE IDENTIFICATION (Cavnar–Trenkle 1994
    * rank-profile method, the public-domain classic behind most n-gram
    * langid tools): unlike `text_langid` (which buckets a vowel-ratio
    * heuristic) this INFERS a language per document by comparing the
    * document's top bigram ranks against per-language profiles via the
    * out-of-place distance Σ|rank_doc − rank_lang| (missing bigram pays
    * the max penalty P) — all INTEGER arithmetic, so cross-engine
    * agreement is exact with no libm anywhere. Shape at 100 TB: the
    * bigram explode is linear and map-side-combines into (lang, bigram)
    * / (doc, bigram) counts; profiles are L·P rows (broadcast); doc
    * ranks come from a doc-partitioned window; scoring is a broadcast
    * left join — one corpus shuffle on the (doc, bigram) key, never a
    * global sort. Output: the lang × predicted confusion matrix a
    * curation run reviews before trusting the inferred labels. */
  def langidNgram(spark: SparkSession, dir: String): DataFrame = {
    // (r16 optimization round: a single-explode variant materializing
    // the per-(doc, bg) count frame via iterCheckpoint was A/B'd at
    // 3.5 s vs 2.8 s — the ~3M-row checkpoint write cost more than the
    // second explode pass it saved; the two-pass spelling stays.)
    val big = docs(spark, dir)
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"))
          .as("bg"))
    val prof = big.groupBy("lang", "bg").agg(count(lit(1)).as("c"))
      .withColumn("r_l", row_number().over(
        Window.partitionBy("lang").orderBy(desc("c"), col("bg"))))
      .filter(col("r_l") <= LangProfTop)
      .select(col("lang").as("cand"), col("bg"), col("r_l"))
    val sig = big.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .withColumn("r_d", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("c"), col("bg"))))
      .filter(col("r_d") <= LangDocTop)
      .select(col("doc_id"), col("bg"), col("r_d"))
    val langs = prof.select("cand").distinct()
    val scored = sig.crossJoin(broadcast(langs))
      .join(broadcast(prof), Seq("cand", "bg"), "left")
      .groupBy("doc_id", "cand")
      .agg(sum(coalesce(abs(col("r_d") - col("r_l")).cast("long"),
        lit(LangProfTop.toLong))).as("oop"))
    val best = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("oop"), col("cand"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand").as("predicted"), col("oop"))
    docs(spark, dir).select(col("doc_id"), col("lang"))
      .join(best, "doc_id")
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n_docs"),
        r4(sum(col("oop")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_oop"))
      .orderBy("lang", "predicted")
  }

  /** PII SCRUB accounting — the corpus-curation half of `text_pii_mask`
    * (which emits per-doc masked text): per (source, action) how many
    * documents a scrub pass keeps vs quarantines, spans found by type,
    * and characters redacted. The fixture corpus carries no PII by
    * construction, so a deterministic per-doc injection (counts keyed
    * off doc_id, VARIABLE per doc so the quarantine branch is
    * exercised: 0–2 emails, 1 ip, 0–1 phones) plants the spans both
    * engines then detect independently via the same regex set.
    * chars_redacted is measured as length(text) − length(text with
    * every span deleted) — the span-length accounting a privacy review
    * reports. Policy: ≥ 3 spans ⇒ quarantine, else scrub-and-keep.
    * Shape: pure per-row regex projection (codegen'd, no shuffle) + one
    * hash agg on the tiny (source, action) key. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._%-]+@[a-z0-9.-]+"
    val ipRe = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
    val phoneRe = "[+]1-[0-9]{3}-[0-9]{4}"
    val pii = concat(col("text"),
      expr("repeat(' u' || CAST(doc_id AS STRING) || '@mail.ex', CAST(doc_id % 3 AS INT))"),
      lit(" ip 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), (col("doc_id") % 7).cast("string"),
      expr("repeat(' +1-555-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), CAST(doc_id % 2 AS INT))"))
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(
      col("pt"), emailRe, ""), ipRe, ""), phoneRe, "")
    docs(spark, dir)
      .withColumn("pt", pii)
      .select(col("source"),
        regexp_count(col("pt"), lit(emailRe)).cast("long").as("n_email"),
        regexp_count(col("pt"), lit(ipRe)).cast("long").as("n_ip"),
        regexp_count(col("pt"), lit(phoneRe)).cast("long").as("n_phone"),
        (length(col("pt")) - length(scrubbed)).cast("long").as("redacted"))
      .withColumn("n_spans", col("n_email") + col("n_ip") + col("n_phone"))
      .withColumn("action",
        when(col("n_spans") >= 3, lit("quarantine")).otherwise(lit("scrub")))
      .groupBy("source", "action")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email")).as("n_email"),
        sum(col("n_ip")).as("n_ip"),
        sum(col("n_phone")).as("n_phone"),
        sum(col("redacted")).as("chars_redacted"),
        r4(sum(col("n_spans")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_spans"))
      .orderBy("source", "action")
  }

  /** BAG-OF-WORDS fingerprint dedup — the token-MULTISET exact rung
    * between `dedup_exact` (byte-identical) and minhash (approximate
    * set overlap): the fingerprint is md5 over the SORTED token list,
    * so token-permuted boilerplate (shuffled navigation, reordered
    * lists) collapses into one group that byte-exact dedup misses,
    * while remaining exact (no banding, no false positives at any
    * scale). n_exact_variants counts distinct byte-level texts inside
    * each bow group — > 1 is precisely the permuted-duplicate mass this
    * rung exists to find. Shape: one projection (sort each doc's own
    * tokens — per-row work, no shuffle) + one hash agg on the
    * fingerprint key with map-side partials. */
  def dedupBowFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(split(col("text"), " ")))).as("bow_h"),
        md5(col("text").cast("binary")).as("xh"))
      .groupBy("bow_h")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
        countDistinct(col("xh")).as("n_exact_variants"))
      .select(col("doc_id"), col("bow_h"), col("n_copies"),
        col("n_exact_variants"))
      .orderBy("doc_id")

  /** TOKENIZER FERTILITY by language — the tokenizer-quality metric a
    * multilingual pipeline reads next to [[bpeEncode]]'s per-doc
    * compression: tokens-per-word (fertility; a tokenizer trained on a
    * skewed mix encodes the under-represented language into MORE
    * pieces per word) and bytes-per-token (the cost metric context
    * windows are budgeted in), under the SAME persisted BPE encoding
    * [[bpeEncodedLayout]] serves everywhere (build once, serve here —
    * no retraining in this plan). Shape at scale: one scan of the
    * persisted encoded corpus + one documents scan, joined on doc_id,
    * collapsed to a ≤|langs| frame with map-side partials. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val enc = spark.read.parquet(bpeEncodedLayout(spark, dir))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("w"),
        octet_length(col("text")).cast("long").as("bts"))
      .join(enc, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("bts")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_bytes"),
        r6(col("n_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        r6(col("n_bytes").cast("double") / col("n_tokens").cast("double"))
          .as("bytes_per_token"))
      .orderBy("lang")
  }

  /** Gram width for [[dedupExactSubstring]] — 24 chars ≈ the 50-token
    * threshold of corpus-level exact-substring dedup scaled to the
    * fixture's short documents. */
  private[ops] val SubstrGram = 24

  /** EXACT SUBSTRING dedup at gram granularity — the corpus-scale rung
    * above [[dedupChunkExact]]/`dedup_span_merge` and the engine's
    * re-expression of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): any
    * substring of length ≥ k that occurs ≥ 2 times ANYWHERE in the
    * corpus is duplicated text, found here as runs of stride-1 k-gram
    * hashes with corpus-wide occurrence ≥ 2, merged per doc into
    * maximal duplicated char intervals (runs chain while gram starts
    * are ≤ k apart, so the interval union is exact — no double-counted
    * chars). Where the reference suffix-array build is one giant sort,
    * this is the shuffle-parallel spelling: ONE corpus-linear gram
    * explode, then a SALTED TWO-LEVEL window count on the gram key
    * (r17 — every window partition is bounded even under a mega-hot
    * boilerplate gram; see the inline receipt), then doc-partitioned
    * windows — every stage linear in corpus bytes and partition-
    * parallel at any scale. Key width: the RAW k-gram itself
    * (24 chars) — no hash at all, so the occurrence count is EXACT with
    * zero collision false-positives, and per-gram work is a substring
    * copy instead of a digest (the r16 A/B at sf0.1: md5-prefix 12.1 s
    * → raw-gram 8.0 s — the digest was 2×25M md5 calls, one per gram
    * per branch). At larger gram widths a 128-bit digest narrows the
    * shuffle row — same plan, swap the key expression. */
  def dedupExactSubstring(spark: SparkSession, dir: String): DataFrame = {
    val k = SubstrGram
    val d = docs(spark, dir).select(col("doc_id"), col("text"),
      length(col("text")).cast("long").as("n"))
    val g = d.filter(col("n") >= k)
      .select(col("doc_id"), col("text"), col("n"),
        explode(sequence(lit(1L), col("n") - lit(k - 1L))).as("pos"))
      .select(col("doc_id"), col("pos"),
        col("text").substr(col("pos").cast("int"), lit(k)).as("h"))
    // r17 optimization round (VERDICT-r16 #1): the r16 single-level
    // window count (count(1) OVER (PARTITION BY h)) put EVERY occurrence
    // of one gram into one task — and a mega-hot 24-gram is this op's
    // expected case (boilerplate), so at corpus scale one task buffered
    // the whole hot key with no map-side combine. This is the SALTED
    // TWO-LEVEL spelling (guide §2.5): level 1 counts per (h, salt) —
    // any window partition holds at most 1/64 of a hot gram — and level
    // 2 totals per gram over a BOUNDED set of carrier rows: the c1 = 1
    // singletons plus ONE representative per multi-occupancy bucket
    // (the bucket min), i.e. <= 2·64 rows per gram, keyed (h, -1);
    // rows already decided by c1 >= 2 keep their (h, salt) key so the
    // level-2 group they sit in stays bucket-bounded too. Exactness:
    // tot over the (h, -1) group = Σ_salt c1 = the exact corpus
    // occurrence count; a row is duplicated iff c1 >= 2 (its own bucket
    // proves it) or tot >= 2 (its gram exists beyond itself — c1 = 1
    // rows are always carriers, so their tot is the real total).
    // Alternatives measured and rejected at sf0.1 (receipts in
    // OPTIMIZATION_r17.md): groupBy(h)+semi-join-back re-ran the gram
    // Generate (5.3 s) or paid a corpus-wide checkpoint (4.3 s); the
    // union-shaped two-level (sure ∪ singles) duplicated the post-
    // exchange sort+window (3.3-4.6 s). This single-lineage spelling is
    // the cheapest skew-safe one (3.2-3.5 s vs 2.7-2.9 s for the skewed
    // window at sf0.1 — the +0.5 s is the de-skew premium, bought back
    // 1.55× on a hot-gram soak where the single-level window straggles:
    // 9.1-9.3 s vs 5.9 s, OPTIMIZATION_r17.md).
    val salts = 64
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val gs = g.withColumn("salt",
      pmod(xxhash64(col("doc_id"), col("pos")), lit(salts)))
    val wS = Window.partitionBy("h", "salt")
    val lvl1 = gs.select(col("doc_id"), col("pos"), col("h"), col("salt"),
      count(lit(1)).over(wS).as("c1"),
      min(struct(col("doc_id"), col("pos"))).over(wS).as("mn"))
    val carrier = col("c1") === 1 ||
      (col("mn.doc_id") === col("doc_id") && col("mn.pos") === col("pos"))
    val w2 = Window.partitionBy(col("h"),
      when(carrier, lit(-1L)).otherwise(col("salt")))
    val runs = lvl1
      .withColumn("tot",
        sum(when(carrier, col("c1")).otherwise(lit(0L))).over(w2))
      .filter(col("c1") >= 2 || col("tot") >= 2)
      .select(col("doc_id"), col("pos"))
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
      // chain while gram starts are <= k apart: overlapping (< k) and
      // exactly-adjacent (= k) char spans union into one interval
      .withColumn("new_run",
        (col("gap").isNull || col("gap") > k).cast("long"))
      .withColumn("run_id", sum(col("new_run"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "run_id")
      .agg(count(lit(1)).as("ng"),
        (max(col("pos")) - min(col("pos")) + k).as("chars"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_runs"), sum(col("ng")).as("n_dup_grams"),
        sum(col("chars")).as("dup_chars"),
        max(col("chars")).as("longest_run_chars"))
    d.select(col("doc_id"), col("n").as("n_chars"),
        greatest(col("n") - lit(k - 1L), lit(0L)).as("n_grams_total"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"), col("n_grams_total"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("longest_run_chars"), lit(0L)).as("longest_run_chars"),
        r6(coalesce(col("dup_chars"), lit(0L)).cast("double")
          / col("n_chars").cast("double")).as("dup_ratio"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokenizer_fertility" -> (tokenizerFertility _),
    "dedup_exact_substring" -> (dedupExactSubstring _),
    "dedup_sorted_neighborhood" -> (dedupSortedNeighborhood _),
    "text_dsir_weights" -> (dsirWeights _),
    "text_wordlen_kl" -> (wordlenKl _),
    "text_code_detect" -> (codeDetect _),
    "text_burstiness" -> (burstiness _),
    "text_keyword_rake" -> (keywordRake _),
    "text_ngram_novelty" -> (ngramNovelty _),
    "text_winnowing" -> (winnowing _),
    "text_readability" -> (readability _),
    "text_vocab_coverage" -> (vocabCoverage _),
    "docs_length_quantiles" -> (lengthQuantiles _),
    "text_bigram_lm_score" -> (bigramLmScore _),
    "text_bpe_merge" -> (bpeMerge _),
    "text_bpe_train" -> (bpeTrain _),
    "text_bpe_encode" -> (bpeEncode _),
    "text_unigram_logprob" -> (unigramLogprob _),
    "text_token_topk" -> (tokenTopk _),
    "text_lang_stats" -> (langStats _),
    "text_langid" -> (langId _),
    "text_quality_score" -> (qualityScore _),
    "text_gopher_rules" -> (gopherRules _),
    "dedup_url_canonical" -> (urlCanonical _),
    "docs_temperature_sample" -> (temperatureSample _),
    "text_mattr" -> (mattr _),
    "text_char_entropy" -> (charEntropyScore _),
    "text_hash_features" -> (hashFeatures _),
    "text_token_count" -> (tokenCount _),
    "text_fingerprint" -> (fingerprint _),
    "text_pos_tokens" -> (posTokens _),
    "text_vocab_build" -> (vocabBuild _),
    "text_chunk_split" -> (chunkSplit _),
    "text_tfidf" -> (tfidf _),
    "text_bm25" -> (bm25 _),
    "text_bm25_index" -> (bm25IndexServe _),
    "text_bm25_upsert" -> (bm25Upsert _),
    "text_normalize" -> (normalize _),
    "dedup_exact" -> (dedupExact _),
    "text_langid_ngram" -> (langidNgram _),
    "text_pii_scrub" -> (piiScrub _),
    "dedup_bow_fingerprint" -> (dedupBowFingerprint _),
    "dedup_prefix_boilerplate" -> (dedupPrefixBoilerplate _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "dedup_near_jaccard" -> (dedupNearJaccard _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_chunk_exact" -> (dedupChunkExact _),
    "text_shingle_containment" -> (shingleContainment _),
    "text_decontaminate" -> (decontaminate _),
    "dedup_ngram_global" -> (dedupNgramGlobal _),
    "docs_domain_mix" -> (domainMix _),
    "text_pii_mask" -> (piiMask _),
    "text_quality_buckets" -> (qualityBuckets _),
    "text_repetition_stats" -> (repetitionStats _),
    "text_pmi_bigrams" -> (pmiBigrams _),
    "text_collocation_llr" -> (collocationLlr _),
    "text_kneser_ney" -> (kneserNey _),
    "text_heaps_law" -> (heapsLaw _),
    "text_pack_sequences" -> (packSequences _),
    "text_zipf_fit" -> (zipfFit _),
    "dedup_span_merge" -> (dedupSpanMerge _))

  // The BPE training-replay CTE chain shared by the text_bpe_train and
  // text_bpe_encode oracles (generated from the same BpeTrainRounds, so
  // the Spark loop and both oracles cannot drift in round count or
  // per-round arithmetic). Multiply-referenced CTEs are MATERIALIZED:
  // DuckDB inlines plain CTEs per reference, and each round references
  // ld/best/me/tok 2-3×, so 8 chained rounds otherwise expand the scan
  // DAG exponentially — found as an oracle-side OOM at sf0.1 (the Spark
  // side was fine). tok{k+1} renumbers positions contiguously, mirroring
  // the Spark side's row_number re-index; the chain's last CTE
  // tok{BpeTrainRounds+1} is the final encoded corpus.
  private lazy val bpeRoundsChainSql: String = (1 to BpeTrainRounds).map { k =>
    s"""ld$k AS MATERIALIZED (
           SELECT doc_id, pos, tok,
             lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
           FROM tok$k),
         best$k AS MATERIALIZED (
           SELECT tok AS t1, nxt AS t2, count(*) AS cnt
           FROM ld$k WHERE nxt IS NOT NULL
           GROUP BY 1, 2 ORDER BY cnt DESC, t1, t2 LIMIT 1),
         ma$k AS (
           SELECT l.doc_id, l.pos, l.tok, b.t1, b.t2, b.cnt,
             coalesce(l.tok = b.t1 AND l.nxt = b.t2, false) AS cand
           FROM ld$k l, best$k b),
         mb$k AS (
           SELECT *, (cand AND NOT coalesce(
             lag(cand, 1) OVER (PARTITION BY doc_id ORDER BY pos), false)) AS cand_start
           FROM ma$k),
         mc$k AS (
           SELECT *, max(CASE WHEN cand_start THEN pos END) OVER
               (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_start
           FROM mb$k),
         md$k AS (SELECT *, (cand AND (pos - run_start) % 2 = 0) AS st FROM mc$k),
         me$k AS MATERIALIZED (
           SELECT *, coalesce(
             lag(st, 1) OVER (PARTITION BY doc_id ORDER BY pos), false) AS consumed
           FROM md$k),
         tok${k + 1} AS MATERIALIZED (
           SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
             CASE WHEN st THEN t1 || '_' || t2 ELSE tok END AS tok
           FROM me$k WHERE NOT consumed),
         sum$k AS (
           SELECT CAST($k AS BIGINT) AS round, t1, t2, cnt,
             (SELECT CAST(sum(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT)
              FROM me$k) AS n_merges
           FROM best$k)"""
  }.mkString(",\n         ")

  private lazy val bpeRoundsUnionSql: String = (1 to BpeTrainRounds)
    .map(k => s"SELECT * FROM sum$k").mkString("\n           UNION ALL ")

  val oracleSql: Map[String, String] = Map(
    "text_tokenizer_fertility" ->
      s"""WITH tok1 AS (
           SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(range(len(string_split(text, ' ')))) AS pos
           FROM documents),
         $bpeRoundsChainSql,
         enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
           FROM tok${BpeTrainRounds + 1} GROUP BY doc_id),
         d AS (SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
           CAST(strlen(text) AS BIGINT) AS bts FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS n_words,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(bts) AS BIGINT) AS n_bytes,
           ${r6Sql("CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE)")}
             AS fertility,
           ${r6Sql("CAST(CAST(sum(bts) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE)")}
             AS bytes_per_token
         FROM d JOIN enc USING (doc_id) GROUP BY lang ORDER BY lang""",
    "dedup_exact_substring" ->
      s"""WITH d AS (SELECT doc_id, text,
           CAST(length(text) AS BIGINT) AS n FROM documents),
         g AS (SELECT doc_id, text, n,
           CAST(unnest(range(1, n - ${SubstrGram - 2})) AS BIGINT) AS pos
           FROM d WHERE n >= $SubstrGram),
         h AS (SELECT doc_id, pos,
           substring(text, pos, $SubstrGram) AS h
           FROM g),
         dh AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
         r1 AS (SELECT doc_id, pos, pos - lag(pos, 1) OVER (PARTITION BY
           doc_id ORDER BY pos) AS gap FROM h JOIN dh USING (h)),
         r2 AS (SELECT doc_id, pos, CASE WHEN gap IS NULL OR
           gap > $SubstrGram THEN 1 ELSE 0 END AS new_run FROM r1),
         r3 AS (SELECT doc_id, pos, sum(new_run) OVER (PARTITION BY doc_id
           ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id FROM r2),
         runs AS (SELECT doc_id, run_id, CAST(count(*) AS BIGINT) AS ng,
           CAST(max(pos) - min(pos) + $SubstrGram AS BIGINT) AS chars
           FROM r3 GROUP BY 1, 2),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
           CAST(sum(ng) AS BIGINT) AS n_dup_grams,
           CAST(sum(chars) AS BIGINT) AS dup_chars,
           CAST(max(chars) AS BIGINT) AS longest_run_chars
           FROM runs GROUP BY 1)
         SELECT d.doc_id, d.n AS n_chars,
           CAST(greatest(d.n - ${SubstrGram - 1}, 0) AS BIGINT)
             AS n_grams_total,
           CAST(coalesce(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(a.n_runs, 0) AS BIGINT) AS n_runs,
           CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars,
           CAST(coalesce(a.longest_run_chars, 0) AS BIGINT)
             AS longest_run_chars,
           ${r6Sql("CAST(coalesce(a.dup_chars, 0) AS DOUBLE) / CAST(d.n AS DOUBLE)")}
             AS dup_ratio
         FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""",
    "dedup_sorted_neighborhood" ->
      """WITH base AS (SELECT doc_id, n_chars,
           substring(replace(text, ' ', ''), 1, 48) AS sk
           FROM documents),
         b2 AS (SELECT *, substring(sk, 1, 6) AS bkt FROM base),
         led AS (SELECT doc_id, n_chars, sk,
           lead(doc_id, 1) OVER w AS b1, lead(sk, 1) OVER w AS s1,
             lead(n_chars, 1) OVER w AS c1,
           lead(doc_id, 2) OVER w AS b2, lead(sk, 2) OVER w AS s2,
             lead(n_chars, 2) OVER w AS c2,
           lead(doc_id, 3) OVER w AS b3, lead(sk, 3) OVER w AS s3,
             lead(n_chars, 3) OVER w AS c3
           FROM b2 WINDOW w AS (PARTITION BY bkt ORDER BY sk, doc_id)),
         pairs AS (
           SELECT doc_id, n_chars, sk, 1 AS dist, b1 AS b_id, s1 AS b_sk,
             c1 AS b_chars FROM led
           UNION ALL
           SELECT doc_id, n_chars, sk, 2, b2, s2, c2 FROM led
           UNION ALL
           SELECT doc_id, n_chars, sk, 3, b3, s3, c3 FROM led),
         graded AS (SELECT doc_id AS a, b_id AS b,
           CAST(dist AS BIGINT) AS dist,
           CAST(CASE
             WHEN substring(sk, 1, 32) = substring(b_sk, 1, 32) THEN 32
             WHEN substring(sk, 1, 24) = substring(b_sk, 1, 24) THEN 24
             WHEN substring(sk, 1, 16) = substring(b_sk, 1, 16) THEN 16
             ELSE 0 END AS BIGINT) AS match_level,
           n_chars AS a_chars, b_chars
           FROM pairs WHERE b_id IS NOT NULL)
         SELECT * FROM graded
         WHERE match_level >= 16 AND abs(a_chars - b_chars) <= 40
         ORDER BY a, b""",
    "text_dsir_weights" ->
      s"""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
           FROM documents),
         tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY 1, 2),
         raw AS (SELECT t, count(*) AS c_raw FROM toks GROUP BY 1),
         tgt AS (SELECT t, count(*) AS c_tgt FROM toks WHERE lang = 'en'
           GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS n_tgt,
           CAST(count(DISTINCT t) AS BIGINT) AS v FROM toks),
         ratio AS (SELECT t,
           CAST(${r6Sql("ln((CAST(coalesce(c_tgt, 0) AS DOUBLE) + 0.5) / (CAST(n_tgt AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))) - ln((CAST(c_raw AS DOUBLE) + 0.5) / (CAST(n_raw AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))")}
             AS DECIMAL(16,6)) AS lr
           FROM raw LEFT JOIN tgt USING (t), tot)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           ${r4Sql("CAST(sum(lr * tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE)")}
             AS dsir_weight
         FROM tf JOIN ratio USING (t)
         GROUP BY doc_id ORDER BY dsir_weight DESC, doc_id LIMIT 20""",
    "text_wordlen_kl" ->
      s"""WITH lens AS (SELECT source, CAST(length(t) AS BIGINT) AS len
           FROM (SELECT source, unnest(string_split(text, ' ')) AS t
             FROM documents)),
         by_src AS (SELECT source, len, count(*) AS c FROM lens GROUP BY 1, 2),
         src_tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
           FROM lens GROUP BY 1),
         corpus AS (SELECT len, count(*) AS c_all FROM lens GROUP BY 1),
         corpus_tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(DISTINCT len) AS BIGINT) AS nl FROM lens),
         grid AS (SELECT source, n_src, len, c_all, n_all, nl
           FROM src_tot CROSS JOIN corpus CROSS JOIN corpus_tot),
         terms AS (SELECT g.source, g.n_src,
           (CAST(coalesce(b.c, 0) AS DOUBLE) + 0.5) AS cs,
           (CAST(g.n_src AS DOUBLE) + 0.5 * CAST(g.nl AS DOUBLE)) AS ns,
           (CAST(g.c_all AS DOUBLE) + 0.5) AS ca,
           (CAST(g.n_all AS DOUBLE) + 0.5 * CAST(g.nl AS DOUBLE)) AS na
           FROM grid g LEFT JOIN by_src b
             ON b.source = g.source AND b.len = g.len),
         t2 AS (SELECT source, n_src,
           CAST(${r6Sql("(cs / ns) * CAST(CAST(" + r6Sql("ln((cs / ns) / (ca / na))") + " AS DECIMAL(16,6)) AS DOUBLE)")}
             AS DECIMAL(16,6)) AS term
           FROM terms)
         SELECT source, max(n_src) AS n_tokens,
           ${r6Sql("CAST(sum(term) AS DOUBLE)")} AS kl_nats
         FROM t2 GROUP BY source ORDER BY source""",
    "text_code_detect" ->
      s"""WITH d AS (SELECT source,
           ${r6Sql("CAST(length(text) - length(regexp_replace(text, '[{}();=\\[\\]]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)")}
             AS r
           FROM documents),
         g AS (SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN r > 0.02 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_code_like,
           CAST(sum(CAST(r AS DECIMAL(20,6))) AS DOUBLE) AS sr
           FROM d GROUP BY source)
         SELECT source, n_docs, n_code_like,
           ${r6Sql("CAST(n_code_like AS DOUBLE) / CAST(n_docs AS DOUBLE)")}
             AS code_share,
           ${r6Sql("sr / CAST(n_docs AS DOUBLE)")} AS avg_density
         FROM g ORDER BY source""",
    "text_burstiness" ->
      s"""WITH pd AS (SELECT token, doc_id, count(*) AS n FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents)
           GROUP BY token, doc_id),
         nd AS (SELECT count(*) AS nd FROM documents),
         t AS (SELECT token,
           CAST(sum(n) AS BIGINT) AS occ,
           count(*) AS docs_present,
           CAST(sum(n * n) AS BIGINT) AS sumsq
           FROM pd GROUP BY token),
         v AS (SELECT token, occ, docs_present,
           CAST(occ AS DOUBLE) / CAST(nd AS DOUBLE) AS mean,
           (CAST(sumsq AS DOUBLE) / CAST(nd AS DOUBLE)
             - (CAST(occ AS DOUBLE) / CAST(nd AS DOUBLE))
               * (CAST(occ AS DOUBLE) / CAST(nd AS DOUBLE)))
             / (CAST(occ AS DOUBLE) / CAST(nd AS DOUBLE)) AS vmr
           FROM t, nd)
         SELECT token, occ, docs_present,
           ${r6Sql("mean")} AS mean_per_doc, ${r6Sql("vmr")} AS vmr,
           vmr > 1.5 AS bursty
         FROM v ORDER BY occ DESC, token LIMIT 20""",
    "text_keyword_rake" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         t AS (SELECT doc_id,
           unnest(list_transform(range(1, len(toks) + 1),
             i -> {'pos': i, 'tok': toks[i]}), recursive := true)
           FROM d),
         m AS (SELECT doc_id, pos, tok,
           tok IN ('join','filter','sort','merge','window') AS is_stop,
           sum(CASE WHEN tok IN ('join','filter','sort','merge','window')
             THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos) AS pid
           FROM t),
         ph AS (SELECT doc_id, pid,
           array_to_string(list(tok ORDER BY pos), ' ') AS phrase,
           count(*) AS n_words
           FROM m WHERE NOT is_stop GROUP BY doc_id, pid),
         wrd AS (SELECT unnest(string_split(phrase, ' ')) AS w, n_words
           FROM ph),
         ws AS (SELECT w,
           ${r6Sql("CAST(sum(n_words) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS ws
           FROM wrd GROUP BY w),
         dp AS (SELECT phrase, count(*) AS n_occ FROM ph GROUP BY phrase),
         pw AS (SELECT dp.phrase, dp.n_occ,
           unnest(string_split(dp.phrase, ' ')) AS w FROM dp)
         SELECT pw.phrase,
           count(*) AS n_words,
           CAST(max(pw.n_occ) AS BIGINT) AS n_occ,
           ${r4Sql("CAST(sum(CAST(ws.ws AS DECIMAL(16,6))) AS DOUBLE)")} AS score
         FROM pw JOIN ws USING (w)
         GROUP BY pw.phrase
         ORDER BY score DESC, pw.phrase LIMIT 20""",
    "text_ngram_novelty" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         sh AS MATERIALIZED (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(toks[i:i+2], ' '))) AS shingle
             FROM d WHERE len(toks) >= 3)),
         own AS (SELECT shingle, min(doc_id) AS first_doc
           FROM sh GROUP BY shingle),
         pd AS (SELECT sh.doc_id, count(*) AS n_sh,
           sum(CASE WHEN own.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
           FROM sh JOIN own USING (shingle) GROUP BY sh.doc_id),
         b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents)
         SELECT least(9, (pd.doc_id - b.lo) * 10 // (b.hi - b.lo + 1))
             AS decile,
           count(*) AS n_docs,
           CAST(sum(n_sh) AS BIGINT) AS n_shingles,
           CAST(sum(n_novel) AS BIGINT) AS n_novel,
           ${r6Sql("CAST(sum(n_novel) AS DOUBLE) / CAST(sum(n_sh) AS DOUBLE)")}
             AS novelty_rate
         FROM pd, b GROUP BY 1 ORDER BY decile""",
    "text_winnowing" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         h AS (SELECT doc_id,
           CASE WHEN len(toks) >= 3 THEN
             list_transform(range(1, len(toks) - 1), i ->
               CAST(('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15)) AS BIGINT))
           ELSE [] END AS hs
           FROM d),
         s AS (SELECT doc_id, len(hs) AS nh,
           CASE WHEN len(hs) >= 1 THEN
             list_distinct(list_transform(
               range(1, greatest(len(hs) - 3, 1) + 1), j ->
                 list_min(hs[j:j + least(3, len(hs) - 1)])))
           ELSE [] END AS sel
           FROM h)
         SELECT doc_id, CAST(nh AS BIGINT) AS n_grams,
           CAST(len(sel) AS BIGINT) AS n_selected,
           CASE WHEN nh >= 1
             THEN ${r4Sql("CAST(len(sel) AS DOUBLE) / CAST(nh AS DOUBLE)")}
           END AS density,
           list_min(sel) AS fp_min
         FROM s ORDER BY doc_id""",
    "text_readability" ->
      s"""WITH d AS (SELECT source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
           CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS s,
           CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS sy
           FROM documents),
         f AS (SELECT source, w, sy,
           CAST(${r4Sql("206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 84.6 * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))")} AS DECIMAL(12,4)) AS fre
           FROM d)
         SELECT source, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS n_words,
           ${r6Sql("CAST(sum(sy) AS DOUBLE) / CAST(sum(w) AS DOUBLE)")} AS syll_per_word,
           ${r4Sql("CAST(sum(fre) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS avg_fre
         FROM f GROUP BY source ORDER BY source""",
    "text_vocab_coverage" ->
      s"""WITH c AS (SELECT token, count(*) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY token),
         r AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank,
           sum(n) OVER (ORDER BY n DESC, token
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(n) OVER () AS tot FROM c),
         x AS (SELECT k, max(rank) AS vocab_used, max(cum) AS covered,
           max(tot) AS tot
           FROM r, (SELECT unnest([100, 1000, 10000]) AS k) ks
           WHERE rank <= k GROUP BY k)
         SELECT CAST(k AS BIGINT) AS k, CAST(vocab_used AS BIGINT) AS vocab_used,
           ${r6Sql("CAST(covered AS DOUBLE) / CAST(tot AS DOUBLE)")} AS coverage
         FROM x ORDER BY k""",
    "docs_length_quantiles" ->
      s"""WITH g AS (SELECT source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS len, count(*) AS c
           FROM documents GROUP BY 1, 2),
         w AS (SELECT source, len, c,
           sum(c) OVER (PARTITION BY source ORDER BY len
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY source) AS tot FROM g)
         SELECT source,
           min(CASE WHEN cum * 2 >= tot THEN len END) AS p50,
           min(CASE WHEN cum * 10 >= tot * 9 THEN len END) AS p90,
           min(CASE WHEN cum * 100 >= tot * 99 THEN len END) AS p99,
           CAST(max(tot) AS BIGINT) AS n_docs
         FROM w GROUP BY source ORDER BY source""",
    "text_bigram_lm_score" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         bi AS (
           SELECT doc_id, a AS w1, b AS w2 FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               i -> {'a': toks[i], 'b': toks[i+1]}), recursive := true)
             FROM d WHERE len(toks) >= 2)),
         tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bi GROUP BY 1, 2, 3),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
         v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
         lp AS (SELECT w1, w2,
           CAST(${r6Sql("ln((CAST(c12 AS DOUBLE) + 0.5) / (CAST(c1 AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))")}
             AS DECIMAL(16,6)) AS lp
           FROM c12 JOIN c1 USING (w1), v)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           ${r4Sql("CAST(sum(lp * tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE)")} AS avg_logprob,
           ${r4Sql("CAST(min(lp) AS DOUBLE)")} AS rarest_logprob
         FROM tf JOIN lp USING (w1, w2)
         GROUP BY doc_id ORDER BY doc_id""",
    "text_zipf_fit" ->
      s"""WITH c AS (
           SELECT token, count(*) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY token ORDER BY n DESC, token LIMIT 100),
         r AS (
           SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM c),
         q AS (
           SELECT
             CAST(${r6Sql("ln(CAST(rank AS DOUBLE))")} AS DECIMAL(16,6)) AS x,
             CAST(${r6Sql("ln(CAST(n AS DOUBLE))")} AS DECIMAL(16,6)) AS y
           FROM r),
         s AS (
           SELECT CAST(count(*) AS DOUBLE) AS nd,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
           FROM q)
         SELECT CAST(nd AS BIGINT) AS n_ranks,
           ${r4Sql("(nd * sxy - sx * sy) / (nd * sxx - sx * sx)")} AS slope,
           ${r4Sql("(sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx) * sx) / nd")}
             AS intercept,
           ${r4Sql("((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) / ((nd * sxx - sx * sx) * (nd * syy - sy * sy))")}
             AS r2
         FROM s""",
    "dedup_span_merge" ->
      s"""WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
           FROM documents WHERE len(string_split(text, ' ')) >= 8),
         w AS (
           SELECT doc_id, n, pos,
             md5(array_to_string(toks[(pos + 1):(pos + 8)], ' ')) AS h
           FROM (SELECT doc_id, n, toks, unnest(range(0, n - 7)) AS pos FROM d)),
         dup AS (
           SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         m AS (
           SELECT doc_id, n, pos,
             CASE WHEN lag(pos) OVER pw IS NULL
                    OR pos > lag(pos) OVER pw + 8 THEN 1 ELSE 0 END AS brk
           FROM w JOIN dup USING (h)
           WINDOW pw AS (PARTITION BY doc_id ORDER BY pos)),
         isl AS (
           SELECT doc_id, n, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS island
           FROM m),
         sp AS (
           SELECT doc_id, max(n) AS n_toks, min(pos) AS s, max(pos) + 8 AS e
           FROM isl GROUP BY doc_id, island)
         SELECT doc_id, CAST(max(n_toks) AS BIGINT) AS n_toks,
           count(*) AS n_spans,
           CAST(sum(e - s) AS BIGINT) AS dup_tokens,
           CAST(max(e - s) AS BIGINT) AS max_span_len,
           ${r4Sql("CAST(sum(e - s) AS DOUBLE) / CAST(max(n_toks) AS DOUBLE)")}
             AS dup_frac
         FROM sp GROUP BY doc_id ORDER BY doc_id""",
    "text_repetition_stats" ->
      s"""WITH d AS (
           SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
         s AS (
           SELECT doc_id, source, len(toks) AS n_toks,
             len(list_distinct(toks)) AS n_dist FROM d),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i+1])) AS bg
           FROM d WHERE len(toks) >= 2),
         mx AS (
           SELECT doc_id, max(c) AS max_bg FROM (
             SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
         f AS (
           SELECT s.source,
             1.0 - CAST(n_dist AS DOUBLE) / CAST(n_toks AS DOUBLE) AS dup_frac,
             CASE WHEN n_toks >= 2
               THEN LEAST(1.0,
                 CAST(coalesce(max_bg, 0) * 2 AS DOUBLE) / CAST(n_toks AS DOUBLE))
               ELSE 0.0 END AS bg_frac
           FROM s LEFT JOIN mx USING (doc_id))
         SELECT source, (dup_frac > 0.2 OR bg_frac > 0.2) AS flagged,
           count(*) AS n_docs,
           ${r4Sql("CAST(sum(CAST(" + r6Sql("dup_frac") +
             " AS DECIMAL(16,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS avg_dup_frac,
           ${r4Sql("CAST(sum(CAST(" + r6Sql("bg_frac") +
             " AS DECIMAL(16,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS avg_bg_frac,
           ${r6Sql("max(bg_frac)")} AS max_bg_frac
         FROM f GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_pmi_bigrams" ->
      s"""WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
         uni AS (SELECT t, count(*) AS cu
           FROM (SELECT unnest(toks) AS t FROM d) GROUP BY t),
         tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n_total FROM uni),
         bi AS (
           SELECT a, b, count(*) AS cab FROM (
             SELECT unnest(list_transform(range(1, len(toks)),
               i -> {'a': toks[i], 'b': toks[i+1]}), recursive := true)
             FROM d WHERE len(toks) >= 2)
           GROUP BY a, b HAVING count(*) >= 3)
         SELECT a, b, cab, ca, cb,
           ${r4Sql("ln(CAST(cab AS DOUBLE) * CAST(n_total AS DOUBLE)" +
             " / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))")} AS pmi
         FROM bi
           JOIN (SELECT t AS a, cu AS ca FROM uni) USING (a)
           JOIN (SELECT t AS b, cu AS cb FROM uni) USING (b), tot
         ORDER BY pmi DESC, a, b LIMIT 20""",
    "text_heaps_law" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         mx AS (SELECT max(doc_id) AS mx FROM d),
         np AS (SELECT greatest(1, least(16,
             (doc_id * 16 + mx - 1) // mx)) AS cp,
           CAST(sum(len(toks)) AS BIGINT) AS dn
           FROM d, mx GROUP BY 1),
         fo AS (SELECT t, min(doc_id) AS fo FROM (
             SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY t),
         vp AS (SELECT greatest(1, least(16,
             (fo * 16 + mx - 1) // mx)) AS cp, count(*) AS dv
           FROM fo, mx GROUP BY 1),
         grid AS (SELECT cp, coalesce(dn, 0) AS dn, coalesce(dv, 0) AS dv
           FROM np FULL OUTER JOIN vp USING (cp)),
         pts AS (SELECT
           ln(CAST(nn AS DOUBLE)) AS x, ln(CAST(vv AS DOUBLE)) AS y, nn, vv
           FROM (SELECT cp,
             CAST(sum(dn) OVER (ORDER BY cp ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS nn,
             CAST(sum(dv) OVER (ORDER BY cp ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS vv
             FROM grid)
           WHERE nn > 0 AND vv > 0),
         tot AS (SELECT max(nn) AS n_tokens, max(vv) AS n_vocab FROM pts),
         s AS (SELECT count(*) AS m,
           CAST(sum(CAST(${r6Sql("x")} AS DECIMAL(16,6))) AS DOUBLE) AS sx,
           CAST(sum(CAST(${r6Sql("y")} AS DECIMAL(16,6))) AS DOUBLE) AS sy,
           CAST(sum(CAST(${r6Sql("x * y")} AS DECIMAL(16,6))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(${r6Sql("x * x")} AS DECIMAL(16,6))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(${r6Sql("y * y")} AS DECIMAL(16,6))) AS DOUBLE) AS syy
           FROM pts),
         f AS (SELECT m, sx, sy, sxy, sxx, syy,
           CAST(m AS DOUBLE) * sxx - sx * sx AS det,
           (CAST(m AS DOUBLE) * sxy - sx * sy)
             / (CAST(m AS DOUBLE) * sxx - sx * sx) AS beta
           FROM s),
         f2 AS (SELECT m, det, beta,
           (sy - beta * sx) / CAST(m AS DOUBLE) AS lnk,
           syy - sy * sy / CAST(m AS DOUBLE) AS sstot,
           syy - sy * sy / CAST(m AS DOUBLE)
             - beta * beta * det / CAST(m AS DOUBLE) AS ssres
           FROM f)
         SELECT tot.n_tokens, tot.n_vocab, m AS n_checkpoints,
           ${r6Sql("CASE WHEN m >= 3 AND abs(det) > 0.0 THEN beta END")}
             AS beta,
           ${r4Sql("CASE WHEN m >= 3 AND abs(det) > 0.0 THEN exp(lnk) END")}
             AS k_coef,
           ${r6Sql("CASE WHEN m >= 3 AND abs(det) > 0.0 AND sstot > 0 THEN 1.0 - ssres / sstot END")}
             AS r2
         FROM f2, tot""",
    "text_collocation_llr" ->
      s"""WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
         bi AS (
           SELECT a, b, count(*) AS cab FROM (
             SELECT unnest(list_transform(range(1, len(toks)),
               i -> {'a': toks[i], 'b': toks[i+1]}), recursive := true)
             FROM d WHERE len(toks) >= 2)
           GROUP BY a, b),
         ma AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca1 FROM bi GROUP BY a),
         mb AS (SELECT b, CAST(sum(cab) AS BIGINT) AS cb2 FROM bi GROUP BY b),
         tot AS (SELECT CAST(sum(cab) AS BIGINT) AS nb FROM bi),
         j AS (SELECT a, b, cab, ca1, cb2, nb FROM bi
           JOIN ma USING (a) JOIN mb USING (b), tot
           WHERE cab >= 5),
         g AS (SELECT a, b, cab, ca1, cb2, 2.0 * (
             (CASE WHEN cab > 0 THEN CAST(cab AS DOUBLE) * ln(CAST(cab AS DOUBLE)) ELSE 0.0 END)
           + (CASE WHEN ca1 - cab > 0 THEN CAST(ca1 - cab AS DOUBLE) * ln(CAST(ca1 - cab AS DOUBLE)) ELSE 0.0 END)
           + (CASE WHEN cb2 - cab > 0 THEN CAST(cb2 - cab AS DOUBLE) * ln(CAST(cb2 - cab AS DOUBLE)) ELSE 0.0 END)
           + (CASE WHEN nb - ca1 - cb2 + cab > 0 THEN CAST(nb - ca1 - cb2 + cab AS DOUBLE) * ln(CAST(nb - ca1 - cb2 + cab AS DOUBLE)) ELSE 0.0 END)
           - (CASE WHEN ca1 > 0 THEN CAST(ca1 AS DOUBLE) * ln(CAST(ca1 AS DOUBLE)) ELSE 0.0 END)
           - (CASE WHEN nb - ca1 > 0 THEN CAST(nb - ca1 AS DOUBLE) * ln(CAST(nb - ca1 AS DOUBLE)) ELSE 0.0 END)
           - (CASE WHEN cb2 > 0 THEN CAST(cb2 AS DOUBLE) * ln(CAST(cb2 AS DOUBLE)) ELSE 0.0 END)
           - (CASE WHEN nb - cb2 > 0 THEN CAST(nb - cb2 AS DOUBLE) * ln(CAST(nb - cb2 AS DOUBLE)) ELSE 0.0 END)
           + (CASE WHEN nb > 0 THEN CAST(nb AS DOUBLE) * ln(CAST(nb AS DOUBLE)) ELSE 0.0 END)) AS g2
           FROM j)
         SELECT a, b, cab, ca1, cb2, ${r4Sql("g2")} AS llr
         FROM g ORDER BY llr DESC, a, b LIMIT 20""",
    "text_kneser_ney" ->
      s"""WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
         bi AS (
           SELECT a, b, count(*) AS cab FROM (
             SELECT unnest(list_transform(range(1, len(toks)),
               i -> {'a': toks[i], 'b': toks[i+1]}), recursive := true)
             FROM d WHERE len(toks) >= 2)
           GROUP BY a, b),
         ma AS (SELECT a, CAST(sum(cab) AS BIGINT) AS c1,
           count(*) AS n1p FROM bi GROUP BY a),
         mb AS (SELECT b, count(*) AS n1m FROM bi GROUP BY b),
         tot AS (SELECT count(*) AS btypes FROM bi),
         j AS (SELECT a, b, cab, c1, n1p, n1m, btypes,
           CAST(n1m AS DOUBLE) / CAST(btypes AS DOUBLE) AS p_cont_raw,
           (greatest(CAST(cab AS DOUBLE) - 0.75, 0.0)
             + 0.75 * CAST(n1p AS DOUBLE)
               * (CAST(n1m AS DOUBLE) / CAST(btypes AS DOUBLE)))
             / CAST(c1 AS DOUBLE) AS p_kn_raw
           FROM bi JOIN ma USING (a) JOIN mb USING (b), tot)
         SELECT a, b, cab, c1, n1p, n1m,
           ${r6Sql("p_cont_raw")} AS p_cont, ${r6Sql("p_kn_raw")} AS p_kn
         FROM j ORDER BY cab DESC, a, b LIMIT 20""",
    "text_pack_sequences" ->
      """WITH d AS (
           SELECT doc_id, source, doc_id // 64 AS shard,
             len(string_split(text, ' ')) AS n_toks
           FROM documents),
         p AS (
           SELECT source, shard, n_toks,
             coalesce(sum(n_toks) OVER (PARTITION BY source, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM d),
         q AS (
           SELECT source, shard, n_toks,
             off // 256 AS w0, (off + n_toks - 1) // 256 AS w1 FROM p),
         g AS (
           SELECT source, shard, count(*) AS n_docs, sum(n_toks) AS n_toks,
             max(w1) + 1 AS n_windows,
             sum(CASE WHEN w0 != w1 THEN 1 ELSE 0 END) AS n_split
           FROM q GROUP BY 1, 2)
         SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           count(*) AS n_shards,
           CAST(sum(n_windows) AS BIGINT) AS n_windows,
           CAST(sum(n_split) AS BIGINT) AS n_split_docs,
           floor((CAST(sum(n_toks) AS DOUBLE) / CAST(sum(n_windows) * 256 AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS fill_frac
         FROM g GROUP BY source ORDER BY source""",
    "dedup_ngram_global" ->
      s"""WITH s AS (
           SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
               THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2])
               ELSE CAST([] AS VARCHAR[]) END)) AS sh
           FROM documents),
         hot AS (
           SELECT sh FROM s GROUP BY sh HAVING count(*) > $NgramDfCap),
         k AS (
           SELECT s.doc_id, s.source, s.sh FROM s
           WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.sh = s.sh)),
         cnt AS (SELECT doc_id, count(*) AS n FROM k GROUP BY doc_id),
         pr AS (
           SELECT a.doc_id AS d1, a.source AS s1, b.doc_id AS d2, b.source AS s2,
             count(*) AS inter
           FROM k a JOIN k b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
         j AS (
           SELECT pr.d1,
             CASE WHEN pr.s1 != pr.s2 THEN 1 ELSE 0 END AS cross_source,
             CAST(pr.inter AS DOUBLE) / CAST(c1.n + c2.n - pr.inter AS DOUBLE) AS jac
           FROM pr JOIN cnt c1 ON pr.d1 = c1.doc_id
                   JOIN cnt c2 ON pr.d2 = c2.doc_id)
         SELECT CAST(cross_source AS BIGINT) AS cross_source, count(*) AS n_pairs,
           CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
           min(CASE WHEN jac >= 0.5 THEN d1 END) AS first_d1,
           floor((CAST(sum(CAST(floor((jac) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(16,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_jac
         FROM j GROUP BY cross_source ORDER BY cross_source""",
    "docs_domain_mix" ->
      s"""WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM s),
         r AS (
           SELECT source, n_docs,
             CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS p,
             ${r6Sql("sqrt(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE))")} AS w6
           FROM s, t),
         d AS (SELECT CAST(sum(CAST(w6 AS DECIMAL(16,6))) AS DOUBLE) AS denom FROM r)
         SELECT source, n_docs, ${r6Sql("p")} AS p,
           ${r6Sql("w6 / denom")} AS weight,
           CAST(floor((w6 / denom) * 100000) AS BIGINT) AS budget_per_100k
         FROM r, d ORDER BY source""",
    "text_pii_mask" ->
      """WITH p AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST(doc_id % 7 AS VARCHAR)
                  || ' phone +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS pii_text
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(pii_text, '[a-z0-9._%-]+@[a-z0-9.-]+')) AS BIGINT) AS n_email,
             CAST(len(regexp_extract_all(pii_text, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS BIGINT) AS n_ip,
             CAST(len(regexp_extract_all(pii_text, '[+]1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
             regexp_replace(regexp_replace(regexp_replace(pii_text,
               '[a-z0-9._%-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
               '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g'),
               '[+]1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS masked
           FROM p)
         SELECT doc_id, n_email, n_ip, n_phone, masked,
           CAST(length(masked) AS BIGINT) AS masked_len
         FROM m ORDER BY doc_id""",
    "text_quality_buckets" ->
      """WITH d AS (
           SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             floor((0.6 * (CAST(len(list_filter(string_split(text, ' '),
                 t -> t IN ('join','filter','sort','merge','window'))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE))
               + 0.4 * least((CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0, 1.0)) * 10000.0 + 0.5) / 10000.0 AS q
           FROM documents),
         b AS (
           SELECT *, CAST(ntile(4) OVER (PARTITION BY lang ORDER BY q, doc_id) AS BIGINT) AS quartile
           FROM d)
         SELECT lang, quartile, count(*) AS n_docs,
           min(q) AS min_q, max(q) AS max_q,
           floor((CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_tok
         FROM b GROUP BY lang, quartile ORDER BY lang, quartile""",
    "text_decontaminate" ->
      s"""WITH sh0 AS (
           SELECT doc_id, source,
             list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
               THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2])
               ELSE CAST([] AS VARCHAR[]) END) AS sh
           FROM documents),
         ev AS (
           SELECT DISTINCT unnest(sh) AS shingle FROM sh0 WHERE doc_id % 97 = 0),
         corp AS (
           SELECT doc_id, source, unnest(sh) AS shingle
           FROM sh0 WHERE doc_id % 97 <> 0),
         agg AS (
           SELECT c.doc_id, c.source, count(*) AS n_shingles,
             CAST(sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit
           FROM corp c LEFT JOIN ev ON c.shingle = ev.shingle
           GROUP BY c.doc_id, c.source),
         sc AS (
           SELECT doc_id, source, n_shingles, n_hit,
             ${r6Sql("CAST(n_hit AS DOUBLE) / CAST(n_shingles AS DOUBLE)")}
               AS containment
           FROM agg WHERE n_hit >= 1)
         SELECT doc_id, source, n_shingles, n_hit, containment,
           CAST(CASE WHEN containment >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
             AS contaminated
         FROM sc ORDER BY doc_id""",
    "text_bpe_merge" ->
      """WITH tok0 AS (
           SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(range(len(string_split(text, ' ')))) AS pos
           FROM documents),
         tok AS (
           SELECT doc_id, pos, tok,
             lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
           FROM tok0),
         best AS (
           SELECT tok AS t1, nxt AS t2, count(*) AS cnt
           FROM tok WHERE nxt IS NOT NULL
           GROUP BY 1, 2 ORDER BY cnt DESC, t1, t2 LIMIT 1),
         m1 AS (
           SELECT t.doc_id, t.pos, t.tok, t.nxt, b.t1, b.t2,
             coalesce(t.tok = b.t1 AND t.nxt = b.t2, false) AS cand
           FROM tok t, best b),
         m2 AS (
           SELECT *,
             (cand AND NOT coalesce(lag(cand, 1) OVER (PARTITION BY doc_id ORDER BY pos), false)) AS cand_start
           FROM m1),
         m3 AS (
           SELECT *,
             max(CASE WHEN cand_start THEN pos END) OVER
               (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_start
           FROM m2),
         m4 AS (
           SELECT *, (cand AND (pos - run_start) % 2 = 0) AS st
           FROM m3),
         m5 AS (
           SELECT *,
             coalesce(lag(st, 1) OVER (PARTITION BY doc_id ORDER BY pos), false) AS consumed
           FROM m4)
         SELECT doc_id,
           min(t1 || ' ' || t2) AS pair,
           CAST(sum(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) AS n_merges,
           count(*) AS n_tok_after,
           string_agg(CASE WHEN st THEN t1 || '_' || t2 ELSE tok END, ' ' ORDER BY pos) AS merged_text
         FROM m5 WHERE NOT consumed
         GROUP BY doc_id ORDER BY doc_id""",
    // Replays the training loop round by round — the same CTE machinery as
    // text_bpe_merge's oracle, chained [[BpeTrainRounds]] times by a Scala
    // loop (generated, so Spark loop and oracle cannot drift in round
    // count or per-round arithmetic). tok{k+1} renumbers positions
    // contiguously, mirroring the Spark side's row_number re-index.
    "text_bpe_train" -> {
      s"""WITH tok1 AS (
           SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(range(len(string_split(text, ' ')))) AS pos
           FROM documents),
         $bpeRoundsChainSql
         SELECT round, t1, t2, cnt, n_merges FROM ($bpeRoundsUnionSql) ORDER BY round"""
    },
    // Reads the final corpus state (tok{N+1}) of the SAME replayed
    // training chain — the encoded stream per document.
    "text_bpe_encode" ->
      s"""WITH tok1 AS (
           SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(range(len(string_split(text, ' ')))) AS pos
           FROM documents),
         $bpeRoundsChainSql,
         before AS (
           SELECT doc_id, count(*) AS n_tok_before FROM tok1 GROUP BY doc_id),
         enc AS (
           SELECT doc_id, count(*) AS n_tok,
             string_agg(tok, ' ' ORDER BY pos) AS encoded_text
           FROM tok${BpeTrainRounds + 1} GROUP BY doc_id)
         SELECT b.doc_id,
           CAST(b.n_tok_before AS BIGINT) AS n_tok_before,
           CAST(e.n_tok AS BIGINT) AS n_tok,
           ${r6Sql("CAST(e.n_tok AS DOUBLE) / CAST(b.n_tok_before AS DOUBLE)")} AS compression,
           e.encoded_text
         FROM before b JOIN enc e ON e.doc_id = b.doc_id
         ORDER BY b.doc_id""",
    "text_unigram_logprob" ->
      s"""WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
         model AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM model),
         j AS (
           SELECT tf.doc_id, tf.tf,
             CAST(${r6Sql("ln(CAST(model.cnt AS DOUBLE) / CAST(tot.tot AS DOUBLE))")} AS DECIMAL(16,6)) AS lp
           FROM tf JOIN model ON tf.token = model.token, tot)
         SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tok,
           ${r4Sql("CAST(sum(lp * tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE)")} AS avg_logprob,
           ${r4Sql("CAST(min(lp) AS DOUBLE)")} AS rarest_logprob
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    "text_token_topk" ->
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 20""",
    "text_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
         floor((CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_chars,
         count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",
    "text_langid" ->
      """WITH d AS (
           SELECT lang,
             CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS vr
           FROM documents)
         SELECT lang,
           CASE WHEN vr >= 0.35 THEN 'high_vowel'
                WHEN vr >= 0.28 THEN 'mid_vowel'
                ELSE 'low_vowel' END AS predicted,
           count(*) AS n,
           floor((CAST(sum(CAST(floor((vr) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(12,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_vowel_ratio
         FROM d GROUP BY lang, predicted ORDER BY lang, predicted""",
    "text_quality_score" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(len(list_filter(string_split(text, ' '),
               t -> t IN ('join','filter','sort','merge','window'))) AS BIGINT) AS n_stop,
             length(text) AS n_ch
           FROM documents)
         SELECT doc_id, n_tok,
           floor((CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
           floor((CAST(n_ch - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_tok_len,
           floor((0.6 * (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
             + 0.4 * least((CAST(n_ch - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE)) / 8.0, 1.0)) * 10000.0 + 0.5) / 10000.0 AS quality
         FROM d ORDER BY doc_id""",
    "text_mattr" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tok,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           floor((CASE WHEN len(toks) < 10
             THEN CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
             ELSE CAST(list_sum(list_transform(range(1, len(toks) - 10 + 2),
                 i -> len(list_distinct(toks[i:i+9])))) AS DOUBLE)
               / CAST((len(toks) - 10 + 1) * 10 AS DOUBLE)
           END) * 1000000.0 + 0.5) / 1000000.0 AS mattr
         FROM t ORDER BY doc_id""",
    "docs_temperature_sample" ->
      """WITH s AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         t AS (SELECT sum(n_docs) AS total FROM s),
         r AS (SELECT lang, n_docs, total,
             floor(sqrt(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0 + 0.5)
               / 1000000.0 AS w6
           FROM s, t),
         dn AS (SELECT sum(CAST(w6 AS DECIMAL(16,6))) AS denom FROM r),
         q AS (SELECT lang, n_docs,
             w6 / CAST(denom AS DOUBLE) AS w,
             CAST(floor((w6 / CAST(denom AS DOUBLE))
               * floor(CAST(total AS DOUBLE) / 4.0)) AS BIGINT) AS quota
           FROM r, dn),
         pr AS (SELECT lang, doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS pr
           FROM documents),
         rk AS (SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY pr, doc_id) AS rk
           FROM pr),
         tk AS (SELECT rk.lang, rk.doc_id, rk.n_chars
           FROM rk JOIN q USING (lang) WHERE rk.rk <= q.quota)
         SELECT q.lang, q.n_docs,
           floor(q.w * 1000000.0 + 0.5) / 1000000.0 AS weight,
           q.quota,
           count(tk.doc_id) AS n_taken,
           CAST(sum(tk.n_chars) AS BIGINT) AS sum_chars_taken,
           min(tk.doc_id) AS first_doc
         FROM q JOIN tk ON tk.lang = q.lang
         GROUP BY q.lang, q.n_docs, q.w, q.quota
         ORDER BY q.lang""",
    "dedup_url_canonical" ->
      """WITH u AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 3 = 0 THEN 'https://' ELSE 'http://' END) ||
             (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
             (CASE WHEN doc_id % 7 = 0
                   THEN upper('site' || CAST(doc_id % 25 AS VARCHAR) || '.example.com')
                   ELSE 'site' || CAST(doc_id % 25 AS VARCHAR) || '.example.com' END) ||
             '/p/' || CAST(doc_id % 400 AS VARCHAR) ||
             (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
             (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed'
                   WHEN doc_id % 4 = 1 THEN '?utm_campaign=x&page=' || CAST(doc_id % 3 AS VARCHAR)
                   WHEN doc_id % 4 = 2 THEN '?page=' || CAST(doc_id % 3 AS VARCHAR)
                   ELSE '' END) AS raw
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(raw, '^https?://', '', 'g') AS ns FROM u),
         s2 AS (SELECT doc_id, ns, regexp_extract(ns, '^[^/?]+') AS auth FROM s1),
         c AS (SELECT doc_id,
             regexp_replace(lower(auth), '^www[.]', '', 'g') ||
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               substring(ns, length(auth) + 1),
               '(utm_[a-z]+|fbclid)=[^&]*', '', 'g'),
               '[?][&]+', '?', 'g'),
               '[?&]+$', '', 'g'),
               '/[?]', '?', 'g'),
               '/$', '', 'g') AS canonical
           FROM s2)
         SELECT canonical, count(*) AS n_variants, min(doc_id) AS min_doc
         FROM c GROUP BY canonical HAVING count(*) >= 2
         ORDER BY n_variants DESC, canonical LIMIT 15""",
    "text_gopher_rules" ->
      """WITH t AS (
           SELECT doc_id, source, string_split(text, ' ') AS toks,
             length(text) AS n_ch
           FROM documents),
         d AS (
           SELECT doc_id, source,
             CAST(len(toks) AS BIGINT) AS n_tok,
             CAST(n_ch - (len(toks) - 1) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS mean_wl,
             CAST(len(list_intersect(list_distinct(toks),
               ['join','filter','sort','merge','window'])) AS BIGINT) AS n_stop
           FROM t),
         m AS (
           SELECT doc_id, max(c) AS max_run FROM (
             SELECT doc_id, count(*) AS c
             FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
             GROUP BY doc_id, tok)
           GROUP BY doc_id),
         f AS (
           SELECT d.doc_id, d.source,
             (d.n_tok < 15 OR d.n_tok > 90) AS f_len,
             (d.mean_wl < 3.5 OR d.mean_wl > 5.5) AS f_wordlen,
             (d.n_stop < 2) AS f_stop,
             (CAST(m.max_run AS DOUBLE) / CAST(d.n_tok AS DOUBLE) > 0.125) AS f_rep
           FROM d JOIN m USING (doc_id)),
         g AS (
           SELECT doc_id, source, f_len, f_wordlen, f_stop, f_rep,
             NOT (f_len OR f_wordlen OR f_stop OR f_rep) AS pass
           FROM f)
         SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
           CAST(sum(CASE WHEN f_wordlen THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_wordlen,
           CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
           CAST(sum(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rep,
           CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           floor(CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS pass_rate,
           min(CASE WHEN NOT pass THEN doc_id END) AS first_fail
         FROM g GROUP BY source ORDER BY source""",
    "text_hash_features" ->
      """SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % 32 AS bucket,
         count(*) AS cnt
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents)
         GROUP BY doc_id, bucket ORDER BY doc_id, bucket""",
    // Same algebraic form as the CharEntropy expression — H = log2(n) −
    // Σ k·log2(k) / n — one division total, so both engines agree to r4.
    "text_char_entropy" ->
      // ln(x)/ln(2), NOT log2(x): DuckDB's log2 differs from ln(x)/ln(2)
      // in the final ulp (measured: log2(3.0) ends ...156 vs ...1563),
      // while the Spark expression computes math.log(x)/math.log(2.0) —
      // the identical spelling keeps per-term arithmetic aligned.
      // Residual cross-engine risk, accepted and documented: libm ln
      // itself differs from JVM Math.log by 1 ulp on ~1e-5 of inputs
      // (measured over k=1..100000: one mismatch, k=9170), so a term
      // sitting EXACTLY on the r4 floor's x.xxxx5 boundary could still
      // flip; no finite SQL spelling removes that class. string_split
      // with '' enumerates code points (combining marks separate, astral
      // chars single — verified against DuckDB), matching the
      // expression's codePointAt loop; CharEntropySpec pins the
      // Spark-side code-point semantics on non-ASCII.
      """WITH cnt AS (
           SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS k
           FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
                 FROM documents)
           GROUP BY doc_id, c),
         s AS (
           SELECT doc_id, sum(k) AS n, sum(k * (ln(k) / ln(2.0))) AS sk
           FROM cnt GROUP BY doc_id)
         SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           floor(((ln(n) / ln(2.0)) - sk / n) * 10000.0 + 0.5) / 10000.0 AS entropy
         FROM s ORDER BY doc_id""",
    "text_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpeish,
         (n_chars + 3) // 4 AS est_llm_tokens
         FROM documents ORDER BY doc_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
         list_min(list_transform(string_split(text, ' '), t -> md5(t))) AS fp_minhash,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tok
         FROM documents ORDER BY doc_id""",
    "text_pos_tokens" ->
      """SELECT u.pos AS pos, u.tok AS token, count(*) AS n
         FROM (SELECT unnest(list_transform(range(1, least(len(s), 3) + 1),
                 i -> {'pos': i, 'tok': s[i]})) AS u
               FROM (SELECT string_split(text, ' ') AS s FROM documents))
         GROUP BY pos, token ORDER BY pos, token""",
    "text_vocab_build" ->
      """SELECT CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS token_id,
         token, n
         FROM (SELECT token, count(*) AS n
               FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
               GROUP BY token)
         ORDER BY token_id""",
    "text_chunk_split" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
           FROM documents),
         c AS (
           SELECT doc_id, toks, n,
             unnest(range(0, 1 + CASE WHEN n > 8
               THEN CAST(floor((n - 3) / 6) AS BIGINT) ELSE 0 END)) AS ci
           FROM d)
         SELECT doc_id, ci AS chunk_idx,
           array_to_string(toks[(ci * 6 + 1):(ci * 6 + 8)], ' ') AS chunk_text,
           least(8, n - ci * 6) AS n_tok
         FROM c ORDER BY doc_id, chunk_idx""",
    "dedup_chunk_exact" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
           FROM documents),
         c AS (
           SELECT doc_id, toks, n,
             unnest(range(0, 1 + CASE WHEN n > 8
               THEN CAST(floor((n - 3) / 6) AS BIGINT) ELSE 0 END)) AS ci
           FROM d),
         hh AS (
           SELECT doc_id,
             md5(array_to_string(toks[(ci * 6 + 1):(ci * 6 + 8)], ' ')) AS h
           FROM c),
         g AS (
           SELECT h, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences,
             min(doc_id) AS first_doc
           FROM hh GROUP BY h)
         SELECT h, n_docs, n_occurrences, first_doc
         FROM g WHERE n_docs >= 3
         ORDER BY n_docs DESC, n_occurrences DESC, h LIMIT 20""",
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS h,
         count(*) AS n_copies
         FROM documents GROUP BY h ORDER BY doc_id""",
    "text_langid_ngram" ->
      s"""WITH b AS (
           SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, length(text) - 1),
               i -> substr(text, CAST(i AS INT), 2))) AS bg
           FROM documents WHERE length(text) >= 2),
         pc AS (SELECT lang, bg, count(*) AS c FROM b GROUP BY 1, 2),
         prof AS (SELECT lang AS cand, bg, r_l FROM (
           SELECT lang, bg,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, bg) AS r_l
           FROM pc) WHERE r_l <= $LangProfTop),
         dc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
         sig AS (SELECT doc_id, bg, r_d FROM (
           SELECT doc_id, bg,
             row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg) AS r_d
           FROM dc) WHERE r_d <= $LangDocTop),
         langs AS (SELECT DISTINCT cand FROM prof),
         sc AS (SELECT s.doc_id, l.cand,
             CAST(sum(coalesce(abs(s.r_d - p.r_l), $LangProfTop)) AS BIGINT)
               AS oop
           FROM sig s CROSS JOIN langs l
           LEFT JOIN prof p ON p.cand = l.cand AND p.bg = s.bg
           GROUP BY 1, 2),
         best AS (SELECT doc_id, cand, oop FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY oop, cand) AS rn FROM sc) WHERE rn = 1)
         SELECT d.lang, b2.cand AS predicted,
           CAST(count(*) AS BIGINT) AS n_docs,
           ${r4Sql("CAST(CAST(sum(b2.oop) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS avg_oop
         FROM documents d JOIN best b2 USING (doc_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_pii_scrub" ->
      s"""WITH p AS (
           SELECT source,
             text || repeat(' u' || CAST(doc_id AS VARCHAR) || '@mail.ex',
               CAST(doc_id % 3 AS INT))
             || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
             || '.0.' || CAST(doc_id % 7 AS VARCHAR)
             || repeat(' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
               CAST(doc_id % 2 AS INT)) AS pt
           FROM documents),
         d AS (
           SELECT source,
             CAST(len(regexp_extract_all(pt, '[a-z0-9._%-]+@[a-z0-9.-]+'))
               AS BIGINT) AS n_email,
             CAST(len(regexp_extract_all(pt,
               '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}'))
               AS BIGINT) AS n_ip,
             CAST(len(regexp_extract_all(pt, '[+]1-[0-9]{3}-[0-9]{4}'))
               AS BIGINT) AS n_phone,
             CAST(length(pt) - length(
               regexp_replace(regexp_replace(regexp_replace(pt,
                 '[a-z0-9._%-]+@[a-z0-9.-]+', '', 'g'),
                 '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '', 'g'),
                 '[+]1-[0-9]{3}-[0-9]{4}', '', 'g')) AS BIGINT) AS redacted
           FROM p),
         e AS (SELECT *, n_email + n_ip + n_phone AS n_spans,
           CASE WHEN n_email + n_ip + n_phone >= 3 THEN 'quarantine'
             ELSE 'scrub' END AS action FROM d)
         SELECT source, action, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_email) AS BIGINT) AS n_email,
           CAST(sum(n_ip) AS BIGINT) AS n_ip,
           CAST(sum(n_phone) AS BIGINT) AS n_phone,
           CAST(sum(redacted) AS BIGINT) AS chars_redacted,
           ${r4Sql("CAST(CAST(sum(n_spans) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS avg_spans
         FROM e GROUP BY 1, 2 ORDER BY source, action""",
    "dedup_bow_fingerprint" ->
      """WITH d AS (
           SELECT doc_id,
             md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
               AS bow_h,
             md5(text) AS xh
           FROM documents)
         SELECT min(doc_id) AS doc_id, bow_h,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT xh) AS BIGINT) AS n_exact_variants
         FROM d GROUP BY bow_h ORDER BY doc_id""",
    "dedup_prefix_boilerplate" ->
      """WITH p AS (
           SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len,
             array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ')
               AS prefix
           FROM documents),
         f AS (
           SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs
           FROM p GROUP BY prefix HAVING count(*) >= 3)
         SELECT p.doc_id, p.source, p.prefix,
           COALESCE(f.n_docs, 0) AS prefix_df,
           CAST(CASE WHEN f.n_docs IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS is_boilerplate,
           CASE WHEN f.n_docs IS NULL THEN len
                ELSE greatest(len - CAST(length(p.prefix) AS BIGINT) - 1, 0)
           END AS kept_chars
         FROM p LEFT JOIN f USING (prefix) ORDER BY doc_id""",
    "text_tfidf" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
         dfx AS (SELECT token, count(*) AS df
                 FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
         nn AS (SELECT count(*) AS n FROM documents),
         s AS (
           SELECT tf.doc_id, tf.token, tf.tf,
             floor((CAST(tf.tf AS DOUBLE)
               * ln(CAST(nn.n AS DOUBLE) / CAST(dfx.df AS DOUBLE))) * 1000000.0 + 0.5)
               / 1000000.0 AS score
           FROM tf JOIN dfx ON tf.token = dfx.token, nn)
         SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS BIGINT) AS rk,
           token, tf, score
         FROM s QUALIFY rk <= 3
         ORDER BY doc_id, rk""",
    "text_bm25" ->
      """WITH dl AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
         st AS (SELECT count(*) AS n, sum(dl) AS sum_dl FROM dl),
         tf AS (
           SELECT doc_id, token, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           WHERE token IN ('join','filter','sort','merge','window')
           GROUP BY doc_id, token),
         dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         s AS (
           SELECT tf.token, tf.doc_id, tf.tf, dl.dl,
             floor((ln((CAST(st.n AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5)
                 / (CAST(dfx.df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf.tf AS DOUBLE) * 2.2)
               / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
                 * (CAST(dl.dl AS DOUBLE) / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n AS DOUBLE))))))
               * 1000000.0 + 0.5) / 1000000.0 AS score
           FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                   JOIN dfx ON tf.token = dfx.token, st)
         SELECT token,
           CAST(row_number() OVER (PARTITION BY token ORDER BY score DESC, doc_id) AS BIGINT) AS rk,
           doc_id, tf, dl, score
         FROM s QUALIFY rk <= 5
         ORDER BY token, rk""",
    "text_bm25_index" ->
      """WITH dl AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
         st AS (SELECT count(*) AS n, sum(dl) AS sum_dl FROM dl),
         tf AS (
           SELECT doc_id, token, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           WHERE token IN ('join','filter','sort','merge','window')
           GROUP BY doc_id, token),
         dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         s AS (
           SELECT tf.doc_id,
             floor((ln((CAST(st.n AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5)
                 / (CAST(dfx.df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf.tf AS DOUBLE) * 2.2)
               / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
                 * (CAST(dl.dl AS DOUBLE) / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n AS DOUBLE))))))
               * 1000000.0 + 0.5) / 1000000.0 AS score
           FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                   JOIN dfx ON tf.token = dfx.token, st),
         a AS (
           SELECT doc_id,
             CAST(sum(CAST(score AS DECIMAL(16,6))) AS DOUBLE) AS score,
             count(*) AS n_terms
           FROM s GROUP BY doc_id)
         SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk,
           doc_id, n_terms, score
         FROM a QUALIFY rk <= 10
         ORDER BY rk""",
    "text_bm25_upsert" ->
      """WITH sdl AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents WHERE doc_id % 7 <> 0),
         st AS (SELECT count(*) AS n, sum(dl) AS sum_dl FROM sdl),
         stf AS (
           SELECT doc_id, token, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents WHERE doc_id % 7 <> 0)
           GROUP BY doc_id, token),
         sdfx AS (SELECT token, count(*) AS df FROM stf GROUP BY token),
         adl AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
         atf AS (
           SELECT doc_id, token, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           WHERE token IN ('join','filter','sort','merge','window')
           GROUP BY doc_id, token),
         s AS (
           SELECT atf.doc_id,
             floor((ln((CAST(st.n AS DOUBLE) - CAST(COALESCE(sdfx.df, 0) AS DOUBLE) + 0.5)
                 / (CAST(COALESCE(sdfx.df, 0) AS DOUBLE) + 0.5) + 1.0)
               * (CAST(atf.tf AS DOUBLE) * 2.2)
               / (CAST(atf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
                 * (CAST(adl.dl AS DOUBLE) / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n AS DOUBLE))))))
               * 1000000.0 + 0.5) / 1000000.0 AS score
           FROM atf JOIN adl ON atf.doc_id = adl.doc_id
                   LEFT JOIN sdfx ON atf.token = sdfx.token, st),
         a AS (
           SELECT doc_id,
             CAST(sum(CAST(score AS DECIMAL(16,6))) AS DOUBLE) AS score,
             count(*) AS n_terms
           FROM s GROUP BY doc_id)
         SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk,
           doc_id, n_terms, score
         FROM a QUALIFY rk <= 10
         ORDER BY rk""",
    "text_normalize" ->
      """WITH n AS (
           SELECT doc_id, text,
             array_to_string(list_filter(
               string_split_regex(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +'),
               t -> t NOT IN ('join','filter','sort','merge','window')), ' ') AS norm_text
           FROM documents)
         SELECT doc_id, norm_text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok_raw,
           CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_tok_norm,
           CAST(CASE WHEN norm_text <> text THEN 1 ELSE 0 END AS BIGINT) AS changed
         FROM n ORDER BY doc_id""",
    "dedup_keep_best" ->
      """WITH d AS (
           SELECT doc_id, md5(lower(trim(text))) AS h,
             0.6 * (CAST(len(list_filter(string_split(text, ' '),
                 t -> t IN ('join','filter','sort','merge','window'))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE))
             + 0.4 * least((CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0, 1.0) AS q
           FROM documents),
         g AS (SELECT h, count(*) AS n_copies FROM d GROUP BY h),
         k AS (SELECT h, doc_id, q,
             row_number() OVER (PARTITION BY h ORDER BY q DESC, doc_id) AS rn
           FROM d)
         SELECT k.doc_id, k.h,
           floor(k.q * 10000.0 + 0.5) / 10000.0 AS quality,
           g.n_copies
         FROM k JOIN g ON k.h = g.h WHERE rn = 1 ORDER BY k.doc_id""",
    "dedup_near_jaccard" ->
      s"""WITH keep AS (
           SELECT doc_id, source, text FROM (
             SELECT doc_id, source, text,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
             FROM documents)
           WHERE rn <= $NearJacBlockCap),
         tok AS (
           SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS token
           FROM keep),
         cnt AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
         pr AS (
           SELECT a.source AS source, a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
           FROM tok a JOIN tok b
             ON a.source = b.source AND a.token = b.token AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3),
         j AS (
           SELECT pr.source,
             CAST(pr.inter AS DOUBLE) / CAST(c1.ntok + c2.ntok - pr.inter AS DOUBLE) AS jac
           FROM pr JOIN cnt c1 ON pr.d1 = c1.doc_id JOIN cnt c2 ON pr.d2 = c2.doc_id)
         SELECT source, count(*) AS n_pairs,
           CAST(sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
           floor((CAST(sum(CAST(floor((jac) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(16,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_jac
         FROM j GROUP BY source ORDER BY source""",
    "dedup_ngram_jaccard" ->
      s"""WITH s AS (
           SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
               THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2])
               ELSE CAST([] AS VARCHAR[]) END)) AS sh
           FROM documents),
         hot AS (
           SELECT source, sh FROM s GROUP BY source, sh HAVING count(*) > $NgramDfCap),
         k AS (
           SELECT s.doc_id, s.source, s.sh FROM s
           WHERE NOT EXISTS (SELECT 1 FROM hot h
                             WHERE h.source = s.source AND h.sh = s.sh)),
         cnt AS (SELECT doc_id, count(*) AS n FROM k GROUP BY doc_id),
         pr AS (
           SELECT a.source AS source, a.doc_id AS d1, b.doc_id AS d2,
             count(*) AS inter
           FROM k a JOIN k b
             ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3),
         j AS (
           SELECT pr.source,
             CAST(pr.inter AS DOUBLE) / CAST(c1.n + c2.n - pr.inter AS DOUBLE) AS jac
           FROM pr JOIN cnt c1 ON pr.d1 = c1.doc_id
                   JOIN cnt c2 ON pr.d2 = c2.doc_id)
         SELECT source, count(*) AS n_pairs,
           CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
           floor((CAST(sum(CAST(floor((jac) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(16,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_jac
         FROM j GROUP BY source ORDER BY source""",
    "text_shingle_containment" ->
      s"""WITH s AS (
           SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
               THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2])
               ELSE CAST([] AS VARCHAR[]) END)) AS sh
           FROM documents),
         hot AS (
           SELECT source, sh FROM s GROUP BY source, sh HAVING count(*) > $NgramDfCap),
         k AS (
           SELECT s.doc_id, s.source, s.sh FROM s
           WHERE NOT EXISTS (SELECT 1 FROM hot h
                             WHERE h.source = s.source AND h.sh = s.sh)),
         cnt AS (SELECT doc_id, count(*) AS n FROM k GROUP BY doc_id),
         pr AS (
           SELECT a.source AS source, a.doc_id AS d1, b.doc_id AS d2,
             count(*) AS inter
           FROM k a JOIN k b
             ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3),
         j AS (
           SELECT pr.source, pr.d1, pr.d2,
             greatest(CAST(pr.inter AS DOUBLE) / CAST(c1.n AS DOUBLE),
               CAST(pr.inter AS DOUBLE) / CAST(c2.n AS DOUBLE)) AS cmax
           FROM pr JOIN cnt c1 ON pr.d1 = c1.doc_id
                   JOIN cnt c2 ON pr.d2 = c2.doc_id)
         SELECT source, count(*) AS n_pairs,
           CAST(sum(CASE WHEN cmax >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_contained,
           min(CASE WHEN cmax >= 0.8 THEN d1 END) AS first_d1,
           floor((CAST(sum(CAST(floor((cmax) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(16,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_cmax
         FROM j GROUP BY source ORDER BY source""")
}
