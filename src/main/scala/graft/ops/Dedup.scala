package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Util._

/** Scale-path near-dup detection: MinHash+LSH banding and SimHash
  * clustering. Both replace the O(n²) pair space with a candidate
  * generation that is an equi join on a short signature — the structure
  * that survives 100 TB. The md5-based "permutations" keep every hash
  * bit-identical between Spark and the DuckDB oracle (both hash utf8 and
  * compare hex strings lexicographically), so the whole algorithm is
  * oracle-gateable end to end.
  */
object Dedup {

  private val K = 6        // minhash permutations
  // Bands of r = K/Bands rows each. r tunes the candidate-probability
  // curve P(candidate | J) = 1 − (1 − J^r)^Bands: r=2 made ~73% of ALL
  // pairs candidates on this corpus (token sets drawn from a 31-token
  // vocabulary are ~0.6-Jaccard-similar on average, so 2-row bands
  // collide constantly) and verification dominated the runtime; r=3
  // keeps true near-dups (J=1 collides in every band at any r) while
  // cutting candidates ~35%.
  private val Bands = 2
  private val R = K / Bands

  /** One row per (doc, token occurrence) — frequency-weighted, for the
    * SimHash vote sums. */
  private def tokens(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents").select(
      col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("token"))

  /** Exact |t1 ∩ t2| of the verify joins — the codegen'd sorted-merge
    * [[graft.functions.SortedIntersectCount]] over token arrays the
    * callers build as array_sort(array_distinct(...)). r17 optimization
    * round: size(array_intersect(...)) builds a hash set and hashes
    * every element of both arrays PER PAIR — measured 2.3 s of
    * dedup_cascade_audit's 3.8 s across its 303k candidate pairs at
    * sf0.1; the sorted merge (memcmp per step, no allocation) read the
    * same frame at 1.35-1.45 s vs 2.7-2.8 s. The per-doc array_sort is
    * paid once per doc instead of per pair, and every signature path
    * fed by the sorted toks is order-insensitive (slice-minima /
    * array_min), so banding is unchanged. */
  private def sortedInter(a: Column, b: Column): Column =
    graft.functions.SortedIntersectCount.sortedIntersect(a, b)

  /** MinHash+LSH: per doc, K min-hashes min_i(md5("s<i>|" ++ token));
    * signatures are banded (r=2) and hashed; docs sharing any (source,
    * band, bandsig) bucket become candidate pairs; candidates are verified
    * with exact token-set Jaccard. Output: per-source candidate/verified
    * counts. Never a cross join — and since round 2, ONE tokenization
    * feeds both stages: signatures are a pure per-row projection (no
    * explode, no groupBy shuffle; round 1 split the text twice and
    * shuffled token rows to build signatures), and verification reuses
    * the same `toks` column. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshOver(
      table(spark, dir, "documents").select(
        col("doc_id"), col("source"),
        // sorted for the sortedInter verify merge (signatures are
        // order-insensitive slice-minima)
        array_sort(array_distinct(split(col("text"), " "))).as("toks")),
      saltPrefix = "s", verifyThreshold = 0.9)

  /** The brief's order-sensitive variant: shingle → minhash → band →
    * bucket-join. Same LSH machinery over distinct 3-token shingles
    * (the [[Text.dedupNgramJaccard]] shingling), so reordered passages
    * that fool token-set MinHash still collide only when genuinely
    * near-duplicate in sequence. */
  def minhashShingle(spark: SparkSession, dir: String): DataFrame =
    minhashLshOver(
      table(spark, dir, "documents")
        // cheap equivalent of size(shingles) >= 1, applied BEFORE the
        // shingle projection so predicate pushdown can't substitute the
        // full shingle expression into the filter
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), col("source"),
          array_sort(shingle3(col("text"))).as("toks")),
      saltPrefix = "g", verifyThreshold = 0.8)

  /** MinHash ESTIMATE CALIBRATION — the measurement behind every
    * signature-space shortcut this engine ships: how close is the
    * K-slice agreement fraction (the classic MinHash Jaccard estimator,
    * E[matches/K] = J) to the exact token-set Jaccard, on the REAL LSH
    * candidate set? At 100 TB the estimate is what a pipeline can afford
    * corpus-wide (signatures are O(K) per doc; exact verification is a
    * per-pair set intersection), so the curator needs this calibration
    * table — per-source pair counts, near-dup agreement rate at the 0.5
    * cutoff, and mean/max absolute estimator error — before trusting
    * estimate-only thresholds.
    *
    * Scale shape: the slice minima are ONE per-row projection over the
    * md5 array (evaluated once — single reference, CollapseProject
    * inlines it); candidates come from the shared capped
    * [[candidatePairs]] (state/output-bounded, one shuffle); the
    * estimator join touches only the candidate set. Thresholds are
    * exact: est = k/6 and jac are identical doubles cross-engine, so the
    * 0.5-cutoff booleans cannot diverge. */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    // (r16 optimization round: materializing base + sigs via
    // iterCheckpoint was A/B'd at 2.9 s vs 2.5 s — writing the wide
    // toks+sig arrays cost more than the re-derived md5 passes it
    // saved; the lazy spelling stays.)
    val base = table(spark, dir, "documents").select(
      col("doc_id"), col("source"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
    val cand = candidatePairs(base, "s")
    val sigs = base
      .withColumn("hs", transform(col("toks"), t =>
        md5(concat(lit("s|"), t).cast("binary"))))
      .withColumn("sig", expr(
        s"transform(sequence(0, ${K - 1}), i -> array_min(transform(hs, h -> substring(h, i * 5 + 1, 5))))"))
      .select(col("doc_id"), col("toks"), col("sig"))
    val paired = cand
      .join(sigs.select(col("doc_id").as("dd1"), col("toks").as("t1"),
        col("sig").as("g1")), col("d1") === col("dd1"))
      .join(sigs.select(col("doc_id").as("dd2"), col("toks").as("t2"),
        col("sig").as("g2")), col("d2") === col("dd2"))
      .withColumn("inter", sortedInter(col("t1"), col("t2")))
      .withColumn("jac", col("inter").cast("double")
        / (size(col("t1")) + size(col("t2")) - col("inter")).cast("double"))
      .withColumn("est", expr(
        s"CAST(size(filter(zip_with(g1, g2, (a, b) -> a = b), x -> x)) AS DOUBLE) / $K.0"))
      .withColumn("abs_err", abs(col("est") - col("jac")))
    paired.groupBy("source").agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("est") >= 0.5, 1L).otherwise(0L)).as("n_est_near"),
        sum(when(col("jac") >= 0.5, 1L).otherwise(0L)).as("n_exact_near"),
        sum(when((col("est") >= 0.5) === (col("jac") >= 0.5), 1L).otherwise(0L))
          .as("n_agree"),
        r4(sum(r6(col("abs_err")).cast(DecimalType(16, 6))).cast("double")
          / count(lit(1)).cast("double")).as("mean_abs_err"),
        r6(max(col("abs_err"))).as("max_abs_err"))
      .orderBy("source")
  }

  /** Shared MinHash+LSH pipeline over any per-doc element set `toks`:
    * the whole signature stage is one per-row expression — no shuffle,
    * no explode until the Bands-way band fan-out. The K "permutations"
    * are SLICES of one md5 per element (K disjoint 5-hex-char substrings
    * = K ~independent 20-bit hash orderings — the k-partition
    * one-permutation-hashing trick), so each element is hashed ONCE
    * instead of K times; round 2 computed K salted md5s per element and
    * the md5 work dominated the query (measured 6× the hash cost for
    * identical LSH structure). (An explode + grouped-min formulation was
    * measured 50% slower end-to-end: the extra shuffle and per-row
    * aggregation state cost more than the HOFs.) */
  private def minhashLshOver(
      base: DataFrame, saltPrefix: String, verifyThreshold: Double): DataFrame = {
    // (r16 optimization round: materializing base via iterCheckpoint
    // was A/B'd flat — 2.12 s vs 2.04 s on dedup_minhash_lsh — writing
    // the wide token arrays costs what the saved re-tokenizations
    // saved; the lazy spelling stays. The same reject held even for
    // dedupChunkMinhash's narrower post-slice rows on trusted
    // full-bench evidence — see its in-method receipt.)
    val cand = candidatePairs(base, saltPrefix)
    // Verify candidates against per-doc token SETS (codegen'd sorted
    // merge per pair — r17; was array_intersect) instead of a
    // candidate×token join. (Band-signature equality
    // does NOT guarantee a shared token — 20-bit slice minima can agree
    // across disjoint sets — so a zero-intersection candidate is legal:
    // it scores jac = 0 here and the oracle's LEFT-joined intersection
    // count keeps the same pair.) (The bitmask encoding from
    // Text.tokenSets was measured NET SLOWER here: its dictionary build
    // adds a count job + shuffle, and candidate verification isn't this
    // query's bottleneck.)
    val sets = base.select(col("doc_id"), col("toks"))
    val jac = cand
      .join(sets.select(col("doc_id").as("dd1"), col("toks").as("t1")),
        col("d1") === col("dd1"))
      .join(sets.select(col("doc_id").as("dd2"), col("toks").as("t2")),
        col("d2") === col("dd2"))
      .select(col("source"),
        sortedInter(col("t1"), col("t2")).as("inter"),
        size(col("t1")).as("n1"), size(col("t2")).as("n2"))
      .withColumn("jac",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
    jac.groupBy("source")
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("jac") >= verifyThreshold, 1L).otherwise(0L)).as("n_verified"))
      .orderBy("source")
  }

  /** The shared LSH signature/band stage: one (doc_id, source, band,
    * bsig) row per document per band. The whole signature computation is
    * ONE evaluate-once-per-row expression: toks → md5 array (codegen'd
    * Md5 per element) → the fused native
    * [[graft.functions.MinhashBandSigs]] (K slice-mins + per-band md5 in
    * one JVM eval). Rounds 1-3 history: K separate
    * array_min(transform(hs, …)) columns re-evaluated the md5 array K
    * times under CollapseProject; the round-3 `aggregate` fold fixed
    * that but still ran interpreted lambdas and allocated a K-field
    * struct per element — the native expression removes both, and the
    * oracle's replayed arithmetic gates that it is bit-identical.
    * The md5 transform has exactly ONE reference, so CollapseProject
    * inlining evaluates it once (no boundCol needed). "g" > every hex
    * digit, so it is a safe min-sentinel; toks is non-empty by
    * construction in all callers. Shared by [[candidatePairs]] and
    * [[candidateStarEdges]] so the salt spelling and K/R geometry
    * cannot drift between the pair-based and star-edge consumers. */
  private def bandRows(base: DataFrame, saltPrefix: String): DataFrame = {
    val bandArr = graft.functions.MinhashBandSigs.bandSigs(
      transform(col("toks"), t =>
        md5(concat(lit(s"$saltPrefix|"), t).cast("binary"))), K, R)
    base.select(col("doc_id"), col("source"),
      posexplode(bandArr).as(Seq("band", "bsig")))
  }

  /** Deterministic per-bucket membership cap: buckets are usually small
    * (docs agreeing on a band signature), but an EXACT-duplicate cluster
    * shares every band signature, so one 10^6-copy boilerplate page puts
    * its whole cluster into each of its buckets — an unbounded
    * collect_set buffer and a quadratic clique expansion. The cap keeps
    * the `LshBucketCap` lowest doc_ids per bucket (bounded
    * [[Udaf.MinKLongs]] state — no aggregation buffer ever exceeds the
    * cap), the same bounded-work discipline as [[Text.NgramDfCap]] /
    * [[LevBudgetPerSource]]; every oracle applies the identical QUALIFY.
    * Semantics at the cap — stated precisely, because downstream
    * consumers inherit it: a mega-cluster still produces the candidate
    * edges that connect its `cap` lowest members — plenty for CC and for
    * the pair-count reports — instead of a job that never finishes; but a
    * member ranked beyond the cap in EVERY one of its buckets gets no
    * candidate edges at all, so quality-dedup consumers
    * ([[pipelineE2e]]'s keep-best, [[ccGroups]]) classify it as a
    * singleton/non-duplicate rather than a truncated cluster member —
    * out-of-cap duplicates ESCAPE dedup, they are not merely unlisted.
    * That is the deliberate trade (bounded work over exhaustive recall on
    * pathological clusters); raise the cap if escape volume matters more
    * than the bound. Inactive on the fixtures (≤ 250 docs/source ≤ cap
    * per-source; global buckets cap only exact-signature mega-groups). */
  private[ops] val LshBucketCap = 256

  /** Shared capped LSH buckets with sorted member lists of size
    * ∈ [2, LshBucketCap], grouped by `keys` — (source, band, bsig) for the
    * source-blocked family, (band, bsig) for the cross-source family. The
    * bounded [[Udaf.MinKLongs]] aggregate keeps the one-hash-shuffle shape
    * (map-side partials, no sort window, no unbounded collect buffer). */
  private def cappedBucketsBy(
      base: DataFrame, saltPrefix: String, keys: Seq[String],
      cap: Int = LshBucketCap): DataFrame =
    bandRows(base, saltPrefix)
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.MinKLongsAgg.minKLongs(col("doc_id"), cap).as("ds"))
      .filter(size(col("ds")) >= 2)

  private def cappedBuckets(base: DataFrame, saltPrefix: String,
      cap: Int = LshBucketCap): DataFrame =
    cappedBucketsBy(base, saltPrefix, Seq("source", "band", "bsig"), cap)

  /** LSH candidate pairs (source, d1 < d2) over any per-doc element set
    * `toks` — the shared front half of the MinHash family, for consumers
    * that score each pair ([[minhashLshOver]], [[editDistance]]).
    * Connectivity-only consumers use [[candidateStarEdges]] instead. */
  private[ops] def candidatePairs(base: DataFrame, saltPrefix: String,
      cap: Int = LshBucketCap): DataFrame = {
    // Candidate pairs by GROUPING each (source, band, bsig) bucket and
    // emitting its member pairs, not by self-joining the band table: one
    // shuffle of band rows total. (The round-1 self-join recomputed the
    // signature projection on both join sides — without a shuffle under
    // it there is no exchange for ReuseExchange to deduplicate — and
    // shuffled the table twice.) Per-bucket expansion is bounded at
    // LshBucketCap²/2 pairs by [[cappedBuckets]].
    val buckets = cappedBuckets(base, saltPrefix, cap)
    buckets.select(col("source"),
        explode(graft.functions.SortedPairs.pairs(col("ds"))).as("p"))
      .select(col("source"), col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
  }

  /** Cross-source variant of [[candidatePairs]]: the full per-bucket pair
    * expansion over buckets keyed on (band, bsig) alone, for graph
    * consumers that need REAL adjacency, not just connectivity — a star
    * edge set is triangle-free by construction, so triangle counting /
    * clustering coefficients ([[graphTriangles]]) are only meaningful on
    * the pair graph. Expansion stays bounded at LshBucketCap²/2 per
    * bucket by [[cappedBucketsBy]]. */
  private[ops] def candidatePairsGlobal(
      base: DataFrame, saltPrefix: String): DataFrame =
    cappedBucketsBy(base, saltPrefix, Seq("band", "bsig"))
      .select(explode(graft.functions.SortedPairs.pairs(col("ds"))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()

  /** Write-once per-corpus candidate-PAIR graph over the standard
    * normalized-token base — NINE graph/dedup consumers (triangles,
    * k-core, common neighbors, modularity, BFS layers, degree stats,
    * threshold sweep, source overlap, rate report) build the IDENTICAL
    * edge set, and before this cache each re-ran the banding + capped
    * pair expansion from the raw corpus. This is the same build/serve
    * separation the persisted indexes already follow: at 100 TB the
    * candidate graph IS a dedup-index artifact you materialize once
    * and serve many analytics from. Keyed by the documents table's
    * per-part (name, size, mtime) stamp ([[Util.dirContentKey]], which
    * as of r14 stamps directory-shaped tables too) so a regenerated
    * corpus rebuilds; materialized via
    * [[Util.iterCheckpoint]] so the reliable-checkpoint conf mode
    * applies; consumers replan from the materialized edges (their own
    * `iterCheckpoint` calls were dropped — the cache IS the lineage
    * cut). Bench labels every consumer `build_once`. */
  private[ops] def candGraphCached(
      spark: SparkSession, dir: String): DataFrame = {
    val key = dirContentKey(dir, "documents.parquet")
    CorpusScope.cached("candGraph", key) {
      val base = table(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          array_distinct(split(Text.normTextExpr, " ")).as("toks"))
      iterCheckpoint(candidatePairsGlobal(base, "s"))
    }
  }

  /** STAR-edge twin of [[candGraphCached]] for the component-structure
    * consumers (PageRank, label propagation) that ride the linear-cost
    * star edges instead of the full pair clique. */
  private[ops] def starGraphCached(
      spark: SparkSession, dir: String): DataFrame = {
    val key = "star|" + dirContentKey(dir, "documents.parquet")
    CorpusScope.cached("candGraph", key) {
      val base = table(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          array_distinct(split(Text.normTextExpr, " ")).as("toks"))
      iterCheckpoint(candidateStarEdgesGlobal(base, "s").distinct())
    }
  }

  /** Write-once undirected-edge + degree frames over [[candGraphCached]]
    * — the graph-feature family (common neighbors, Adamic-Adar,
    * assortativity) each derived the IDENTICAL 2|E| undirected frame and
    * its per-node degree agg from the cached edges, paying the
    * degree shuffle once per consumer. Materialized once per corpus
    * (same build/serve discipline as the edge cache; Bench already
    * labels every consumer `build_once`). The und frame stays TWO
    * columns (u, v) — degree annotations join separately — because the
    * Adamic-Adar wedge probe's 3.5× third-column cliff (see
    * [[graphAdamicAdar]]) applies to anything feeding a wedge join. */
  private[ops] def undDegCached(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = candGraphCached(spark, dir)
    val key = dirContentKey(dir, "documents.parquet")
    val und = CorpusScope.cached("candGraph", "und|" + key)(
      iterCheckpoint(e.select(col("d1").as("u"), col("d2").as("v"))
        .unionByName(e.select(col("d2").as("u"), col("d1").as("v")))))
    val deg = CorpusScope.cached("candGraph", "deg|" + key)(
      iterCheckpoint(und.groupBy("u").agg(count(lit(1)).as("deg"))))
    (und, deg)
  }

  /** Degree → Adamic-Adar micros weight, floor(1e6/ln(deg) + 0.5),
    * computed ONCE in Scala over the BOUNDED degree domain (deg ≤
    * Bands·LshBucketCap on the capped candidate graph) and embedded in
    * BOTH engines — the Spark side as a broadcast literal frame, the
    * oracle as a VALUES list. A per-engine libm ln call can differ by
    * an ulp and flip the floor on a .5 boundary; a shared literal table
    * cannot (the [[Relational.trigTable]] discipline). */
  private[ops] val AaMaxDeg: Int = Bands * LshBucketCap
  private[ops] lazy val aaMicrosTable: Seq[(Long, Long)] =
    (2 to AaMaxDeg).map { d =>
      (d.toLong, math.floor(1e6 / math.log(d.toDouble) + 0.5).toLong)
    }
  private def aaMicrosValuesSql: String =
    aaMicrosTable.map { case (d, m) => s"($d, $m)" }.mkString(", ")

  /** LSH candidate STAR edges (d1 = bucket min < d2) — the
    * connectivity-preserving subset of [[candidatePairs]] for consumers
    * that only need the component structure ([[ccGroups]],
    * [[pipelineE2e]]): connecting every bucket member to the bucket's
    * minimum doc_id spans exactly the same components as the full
    * per-bucket clique (any two members are 2 hops apart through the
    * min), but emits |bucket|−1 edges instead of |bucket|²/2 pairs and
    * skips the pair-distinct shuffle entirely — the difference between
    * linear and quadratic cost in the bucket size, which is what a hot
    * bucket at 100 TB turns into. Duplicate edges across bands survive
    * (they are absorbed by the first CC round's min aggregate). The
    * star≡clique component equivalence is PROVEN, not assumed, by two
    * independent gates: the `dedup_cc_groups` oracle keeps the full
    * per-bucket pair-clique closure (deliberately NOT the star replay
    * the other closure oracles use for speed — a star-generation bug
    * would be shared there and invisible), and CcSpec cross-checks the
    * star path against the pair path on fixtures. */
  private[ops] def candidateStarEdges(base: DataFrame, saltPrefix: String): DataFrame =
    starEdgesOf(cappedBuckets(base, saltPrefix))

  /** Cross-source variant of [[candidateStarEdges]]: buckets keyed on
    * (band, bsig) ONLY, so the same article syndicated across two crawl
    * sources collides — the single most common real dedup case, invisible
    * to every source-blocked generator. Identical state bound
    * ([[LshBucketCap]] via MinKLongs) and star-edge output shape; the
    * only cost delta at scale is hotter buckets (the cap bounds them)
    * and a shuffle keyed on fewer columns. */
  private[ops] def candidateStarEdgesGlobal(
      base: DataFrame, saltPrefix: String): DataFrame =
    starEdgesOf(cappedBucketsBy(base, saltPrefix, Seq("band", "bsig")))

  private def starEdgesOf(buckets: DataFrame): DataFrame =
    buckets
      .select(explode(expr(
        """transform(slice(ds, 2, size(ds) - 1),
           x -> struct(element_at(ds, 1) AS d1, x AS d2))""")).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))

  /** Min-label propagation + pointer jumping: per round, adopt the min
    * label over direct neighbors, then the label OF your label's node —
    * the hop-compounding that converges in O(log diameter) rounds
    * (measured 9 → 4 at sf0.1 for the identical fixpoint). Input: ONE
    * canonical orientation per undirected edge (d1 < d2); output
    * (doc_id, root) for every node incident to an edge. Convergence is
    * observed INSIDE the round's checkpoint materialization
    * ([[org.apache.spark.sql.Observation]] metrics ride the same job —
    * Dataset.checkpoint is a tracked action, so the listener fires), not
    * by a second `count()` action over the checkpointed frame: one action
    * per round instead of two. */
  private[ops] def ccMinLabel(pairs1: DataFrame): DataFrame = {
    val edges = pairs1.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs1.select(col("d2").as("src"), col("d1").as("dst")))
      .transform(iterCheckpoint)   // evaluated once; every iteration re-joins it
    // Init already carries the first propagation round: label = min(self,
    // direct neighbors) straight off the edge aggregate — same price as a
    // plain distinct-nodes init, one fewer loop round.
    // superseded-round checkpoints reclaimed as the chain advances;
    // `edges` above stays OUT of the chain — every round re-reads it
    val chain = new Util.ChainCheckpoint
    var lbl = edges.groupBy(col("dst"))
      .agg(min(col("src")).as("nb"))
      .select(col("dst").as("doc_id"), least(col("dst"), col("nb")).as("lbl"))
      .transform(chain(_))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 25) {
      val nbrMin = edges.join(lbl, edges("src") === lbl("doc_id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nbl"))
      // checkpointed so the self-join below doesn't recompute the edge join
      val half = lbl.join(nbrMin, lbl("doc_id") === nbrMin("dst"), "left")
        .select(lbl("doc_id"),
          col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nbl"), col("lbl"))).as("m"))
        .transform(chain(_))   // lbl's round is dead once half materializes
      // Pointer jump: also adopt the label OF my label's node (labels are
      // always node ids, so m is a valid lookup key). Plain neighbor
      // propagation needs diameter rounds; the jump compounds hops and
      // converges in O(log d) for the same fixpoint.
      val par = half.select(col("doc_id").as("p_id"), col("m").as("p_m"))
      val obs = org.apache.spark.sql.Observation()
      val next = half.join(par, half("m") === par("p_id"), "left")
        .select(half("doc_id"),
          least(col("m"), coalesce(col("p_m"), col("m"))).as("lbl"),
          (least(col("m"), coalesce(col("p_m"), col("m"))) < col("old")).as("chg"))
        .observe(obs, coalesce(
          sum(when(col("chg"), 1L).otherwise(0L)), lit(0L)).as("changed"))
        .transform(chain(_))   // half's files are dead once next materializes
      changed = obs.get("changed").asInstanceOf[Long]
      lbl = next.select("doc_id", "lbl")
      rounds += 1
    }
    // Same loud-failure discipline as [[ccLargeSmallStar]]: an
    // unconverged label map silently carries multiple labels inside one
    // component, which no downstream consumer can detect.
    if (changed > 0) throw new IllegalStateException(
      s"min-label propagation did not converge within $rounds rounds")
    lbl.select(col("doc_id"), col("lbl").as("root"))
  }

  /** Alternating large-star / small-star connected components — the
    * published MapReduce CC algorithm whose round count is provably
    * O(log n) on ANY graph, including the extreme-diameter chains where
    * plain propagation needs diameter rounds. Per round over the edge
    * set: large-star connects every neighbor LARGER than a node to the
    * node's minimum neighborhood member; small-star (over the
    * larger→smaller orientation) connects every smaller neighbor, and
    * the node itself, to that minimum. Both are one groupBy + one equi
    * join — never a driver-side graph. At the fixpoint the edge set is a
    * star forest (child > root per edge), from which the (doc_id, root)
    * mapping reads off directly. Convergence = the edge multiset stopped
    * changing, detected by an [[org.apache.spark.sql.Observation]]
    * signature (count + two modular id sums + a modular xxhash64 sum)
    * collected DURING the round's checkpoint job — no extra action, no
    * set-difference join. A signature collision passing for convergence
    * would need four simultaneous mod-1e9+7 coincidences on a
    * monotonically shrinking edge set (and the declared query behind
    * this is gated by an exact recursive-CTE oracle); the round cap
    * backstops pathology, and hitting it without convergence THROWS.
    * The mod-M terms sum through DECIMAL(38,0), so the signature cannot
    * overflow at any edge count (a Long sum would past ~1.8e10 edges). */
  private[ops] def ccLargeSmallStar(pairs1: DataFrame,
      inputCanonical: Boolean = false): DataFrame = {
    // inputCanonical: the caller guarantees d1 < d2 on every row (no
    // self-loops) — true for candidatePairs and candidateStarEdges
    // output — so the defensive self-loop filter + dedup shuffle, needed
    // only for arbitrary edge lists like the CcSpec fixtures, can be
    // skipped: one fewer full shuffle of the edge set. DUPLICATE rows are
    // tolerated on this path (candidateStarEdges deliberately keeps
    // cross-band duplicates): round 1's min aggregates are duplicate-
    // insensitive and the round-end distinct removes them — but nothing
    // downstream may assume the input edge MULTISET is duplicate-free.
    val canon = pairs1
      .select(greatest(col("d1"), col("d2")).as("src"),
        least(col("d1"), col("d2")).as("dst"))
    val chain = new Util.ChainCheckpoint
    var e = (if (inputCanonical) canon
             else canon.filter(col("src") =!= col("dst")).distinct())
      .transform(chain(_))
    val M = 1000000007L
    var prevSig: Seq[String] = null
    var rounds = 0
    var converged = false
    while (!converged && rounds < 30) {
      // large-star over the symmetric view: for node u with neighbors
      // N(u), m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u.
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = sym.groupBy("src")
        .agg(least(min(col("dst")), col("src")).as("m"))
      // No distinct here: duplicate (v, m) rows don't affect small-star's
      // min aggregate, and the round's single distinct (below) dedups the
      // final edge set — one fewer full shuffle per round.
      val ls = sym.join(lsMin, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
      // small-star over larger→smaller edges: for node u, all recorded
      // neighbors v are < u; m = min(N(u)); emit (v, m) for each v and
      // (u, m) for u itself.
      val dirE = ls.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val ssMin = dirE.groupBy("u").agg(min(col("v")).as("m"))
      val ss = dirE.join(ssMin, "u")
        .select(col("v").as("src"), col("m").as("dst"))
        .union(ssMin.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
      // The per-row terms are mod-M (< 1e9+7) but the SUMS run through
      // DECIMAL(38,0): a Long sum overflows past ~1.8e10 edges (avg term
      // ~M/2), which a 100 TB corpus can reach — and ANSI mode would turn
      // that overflow into a thrown exception mid-round.
      val dec38 = DecimalType(38, 0)
      val obs = org.apache.spark.sql.Observation()
      val next = ss.observe(obs,
          count(lit(1)).as("cnt"),
          coalesce(sum(pmod(col("src"), lit(M)).cast(dec38)), lit(0L).cast(dec38))
            .as("s1"),
          coalesce(sum(pmod(col("dst"), lit(M)).cast(dec38)), lit(0L).cast(dec38))
            .as("s2"),
          coalesce(sum(pmod(xxhash64(col("src"), col("dst")), lit(M)).cast(dec38)),
            lit(0L).cast(dec38)).as("s3"))
        .transform(chain(_))   // round k−1's edge files die here
      val m = obs.get
      val sig = Seq("cnt", "s1", "s2", "s3").map(k => String.valueOf(m(k)))
      converged = prevSig != null && sig == prevSig
      prevSig = sig
      e = next
      rounds += 1
    }
    // A non-star edge set here would silently emit multiple roots per
    // node downstream; failing loudly is the only safe behavior. The
    // bound is generous: LSS converges in O(log n) rounds, so 30 rounds
    // covers any graph this engine could be pointed at.
    if (!converged) throw new IllegalStateException(
      s"connected-components did not converge within $rounds rounds — " +
        "edge set is still changing; output would not be a star forest")
    e.select(col("src").as("doc_id"), col("dst").as("root"))
      .union(e.select(col("dst").as("doc_id"), col("dst").as("root")))
      .distinct()
  }

  /** Near-dup CLUSTERS, not just pairs: connected components over the
    * word-level LSH candidate graph — the step a real corpus dedup needs
    * between pair detection and "keep one per group" (pairs chain: a~b
    * and b~c put a,c in one group even when a,c never collide directly).
    * Fixpoint engine: [[ccLargeSmallStar]] (O(log n) rounds on any
    * graph shape — the production choice at 100 TB, where one
    * pathological chain component would stall propagation);
    * [[ccMinLabel]] remains as the independent implementation the
    * property suite cross-checks it against, and the recursive-CTE
    * oracle gates that the loop truly reached the transitive-closure
    * fixpoint either way. Component sizes come from one partitioned
    * window over the final labels — no second aggregate-and-join pass
    * over the checkpoint. Output: every doc in a candidate pair, its
    * component root (min doc_id), and the component size. */
  def ccGroups(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "documents").select(
      col("doc_id"), col("source"),
      array_distinct(split(col("text"), " ")).as("toks"))
    val lbl = ccLargeSmallStar(candidateStarEdges(base, "s"), inputCanonical = true)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("root")
    lbl.withColumn("n_members", count(lit(1)).over(w))
      .select(col("doc_id"), col("root"), col("n_members"))
      .orderBy("doc_id")
  }

  /** The composed end-to-end dedup pipeline — the artifact a training-data
    * run actually ships, proving the stages COMPOSE rather than only pass
    * individually (the reference's whole point is likewise a composed
    * dataflow, `src/bak_unload.ps1:22-116`):
    *
    *   normalize ([[Text.normTextExpr]]: case/punct/stopword cleanup)
    *   → MinHash-LSH candidate pairs over the normalized token sets
    *     ([[candidatePairs]] — equi join on band signatures, never O(n²))
    *   → connected components ([[ccLargeSmallStar]], O(log n) rounds)
    *   → keep best doc per cluster (max composite quality, ties to the
    *     lower doc_id — [[Text.compositeQuality]], the dedup_keep_best
    *     discipline generalized from exact-hash groups to near-dup
    *     clusters; docs in no candidate pair are singleton clusters and
    *     survive)
    *   → per-source kept/dropped counts + an md5 fingerprint of the
    *     sorted surviving doc_ids (the full survivor list at corpus
    *     scale is a table, not a query result; the fingerprint pins it
    *     exactly).
    *
    * Clusters never span sources (candidate pairs are source-blocked), so
    * the final rollup needs no global reshuffle of doc rows — one agg by
    * (source, root), one by source. The oracle chains the identical CTEs
    * with a recursive-CTE transitive closure for the cluster step. */
  def pipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    val base = d.select(col("doc_id"), col("source"),
      array_distinct(split(Text.normTextExpr, " ")).as("toks"))
    val lbl = ccLargeSmallStar(candidateStarEdges(base, "s"), inputCanonical = true)
    val (_, _, _, score) = Text.compositeQuality
    val dq = d.select(col("doc_id"), col("source"), score.as("q"))
    val withRoot = dq.join(lbl, Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("root"), col("doc_id")))
    val clusters = withRoot.groupBy("source", "root")
      .agg(
        max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("keep_id"),
        count(lit(1)).as("csize"))
    clusters.groupBy("source")
      .agg(
        sum(col("csize")).as("n_docs"),
        count(lit(1)).as("n_kept"),
        (sum(col("csize")) - count(lit(1))).as("n_dropped"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(col("keep_id"))), x => x.cast("string")))
          .cast("binary")).as("survivors_md5"))
      .orderBy("source")
  }

  /** CROSS-SOURCE near-dup dedup — [[pipelineE2e]] with the per-source
    * blocking removed from candidate generation: buckets key on
    * (band, bsig) alone ([[candidateStarEdgesGlobal]]), so the same
    * article syndicated across two crawl sources — the most common real
    * dedup case, invisible to every source-blocked operator — lands in
    * one cluster. Same state bounds (MinKLongs cap) and star-edge CC
    * feed; what changes downstream is the rollup: clusters MAY span
    * sources now, so the keep-best aggregation keys on the cluster root
    * alone (one global re-aggregation by root — the no-global-reshuffle
    * shortcut pipelineE2e exploits no longer applies, by design), and the
    * per-source report joins each doc back to its cluster's keeper.
    * Output per source: doc/kept/dropped counts, how many of its docs sit
    * in a cluster that spans >1 source, and the md5 fingerprint of its
    * surviving doc_ids. The oracle replays the identical global banding
    * (QUALIFY capped on (band, bsig)) with a recursive-CTE closure. */
  /** Threshold-sweep tuning report: exact token-set Jaccard over the
    * GLOBAL capped LSH candidate pairs, rolled up as pair counts at the
    * 0.7 / 0.8 / 0.9 thresholds plus the mean — the one-query answer to
    * "where should this corpus's near-dup threshold sit?", computed on
    * exactly the candidate set the production dedup would verify (so the
    * curve describes the real operating points, not an all-pairs
    * fiction). Candidate generation and verification are the gated
    * building blocks; per-pair Jaccard is one double division of exact
    * set sizes (deterministic cross-engine), and the mean sums
    * r6-rounded terms as exact DECIMAL. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    val base = d.select(col("doc_id"), col("source"),
      array_sort(array_distinct(split(Text.normTextExpr, " "))).as("toks"))
    val pairs = candGraphCached(spark, dir)
    val ts = base.select(col("doc_id"), col("toks"))
    val j = pairs
      .join(ts.select(col("doc_id").as("d1"), col("toks").as("t1")), "d1")
      .join(ts.select(col("doc_id").as("d2"), col("toks").as("t2")), "d2")
      // inter/(n1+n2-inter) == inter/|union| on distinct arrays
      .withColumn("inter", sortedInter(col("t1"), col("t2")))
      .withColumn("jac",
        col("inter").cast("double") /
          (size(col("t1")) + size(col("t2")) - col("inter")).cast("double"))
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    j.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("jac") >= 0.7, 1L).otherwise(0L)).as("n_ge_07"),
      sum(when(col("jac") >= 0.8, 1L).otherwise(0L)).as("n_ge_08"),
      sum(when(col("jac") >= 0.9, 1L).otherwise(0L)).as("n_ge_09"),
      r4(sum(r6(col("jac")).cast(dec)).cast("double")
        / count(lit(1)).cast("double")).as("avg_jac"))
  }

  def minhashGlobal(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    val base = d.select(col("doc_id"), col("source"),
      array_distinct(split(Text.normTextExpr, " ")).as("toks"))
    val lbl = ccLargeSmallStar(
      candidateStarEdgesGlobal(base, "s"), inputCanonical = true)
    val (_, _, _, score) = Text.compositeQuality
    val dq = d.select(col("doc_id"), col("source"), score.as("q"))
    val withRoot = dq.join(lbl, Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("root"), col("doc_id")))
    // Keep-best per GLOBAL cluster: one aggregate keyed on root, then each
    // doc rejoins its cluster's keeper. Both are root-keyed hash shuffles
    // of doc-count rows — the honest cost of cross-source clustering.
    val clusters = withRoot.groupBy("root")
      .agg(
        max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("keep_id"),
        countDistinct(col("source")).as("n_src"))
    withRoot.join(clusters, "root")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("n_src") > 1, 1L).otherwise(0L)).as("n_xsource"),
        // collect_list skips nulls, so only this source's keepers land in
        // the fingerprint; the oracle mirrors with FILTER (WHERE …).
        md5(concat_ws(",",
          transform(
            array_sort(collect_list(
              when(col("doc_id") === col("keep_id"), col("doc_id")))),
            x => x.cast("string"))).cast("binary")).as("survivors_md5"))
      .orderBy("source")
  }

  private[ops] val PrIters = 4

  /** PageRank over the cross-source LSH candidate graph — graph-analytic
    * centrality beyond [[ccGroups]]' connectivity: within a near-dup
    * component, high-rank docs are the "canonical" copies many templates
    * point at (useful as a keep-best signal that sees STRUCTURE, not
    * just per-doc quality). Edges are the [[candidateStarEdgesGlobal]]
    * star set (deduped, then symmetrized), so every node has in- and
    * out-degree ≥ 1 — no dangling-mass term needed. [[PrIters]] power
    * iterations at d = 0.85, each: rank/degree contributions r6-quantized
    * per edge, summed through exact DECIMAL (order-independent), damped,
    * r6 again — so the oracle's replay is bit-identical. Per round: one
    * hash shuffle of the edge set (join on src) + one on dst (the agg) —
    * the textbook distributed PageRank cost, O(log-ish) memory per node;
    * rounds chain through [[Util.ChainCheckpoint]] (superseded round
    * files reclaimed, the CC discipline). Output: top 20 by final rank. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val star = starGraphCached(spark, dir)
    val chain = new Util.ChainCheckpoint
    // edges is reused by deg, nodes, and EVERY round — plain
    // iterCheckpoint (reclaimed by the shutdown sweep), NOT the chain,
    // whose supersede-delete would drop the files round 1 still reads.
    val edges = star.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(star.select(col("d2").as("src"), col("d1").as("dst")))
      .transform(iterCheckpoint)
    val deg = edges.groupBy("src")
      .agg(count(lit(1)).cast("double").as("deg"))
    // (src, dst, deg) materialized ONCE — the deg join is loop-invariant,
    // so paying it inside every round (as round 5 did) re-shuffled the
    // edge set an extra time per iteration for an unchanged result.
    val ed = edges.join(deg, "src").transform(iterCheckpoint)
    val nodes = edges.select(col("src").as("doc_id")).distinct()
    val nn = nodes.agg(count(lit(1)).cast("double").as("n"))
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("doc_id"), r6(lit(1.0) / col("n")).as("r"))
      .transform(chain(_))
    for (_ <- 1 to PrIters) {
      ranks = ed
        .join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst"),
          r6(col("r") / col("deg")).cast(DecimalType(28, 6)).as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).cast("double").as("s"))
        .crossJoin(broadcast(nn))
        .select(col("dst").as("doc_id"),
          r6(lit(0.15) / col("n") + lit(0.85) * col("s")).as("r"))
        .transform(chain(_))
    }
    ranks.join(deg.withColumnRenamed("src", "doc_id"), "doc_id")
      .select(col("doc_id"), col("deg").cast("long").as("degree"),
        col("r").as("pr"))
      .orderBy(desc("pr"), col("doc_id")).limit(20)
  }

  /** Triangle counting + local clustering coefficient over the global
    * LSH candidate-PAIR graph ([[candidatePairsGlobal]] — the star set is
    * triangle-free by construction, so this op needs real per-bucket
    * adjacency). Within near-dup neighborhoods, a high coefficient marks
    * tight template cliques (every copy collides with every other); a
    * high-degree/low-coefficient node is a hub stitching UNRELATED
    * buckets — exactly the shingle-collision false-positive a dedup
    * pipeline wants flagged before it merges clusters. Algorithm: the
    * node-iterator join — each triangle a<b<c is found exactly once as
    * pairs (a,b)⋈(b,c)⋈(a,c); the canonical d1<d2 orientation (bucket
    * member lists are sorted) makes that three self-equi-joins of ONE
    * edge table, materialized once and reused by all three sides and the
    * degree count. Per-node bound: paths-through-b ≤ deg(b)² with deg ≤
    * Bands·LshBucketCap — capped, never corpus-quadratic.
    *
    * Cost note (profiled at sf0.1): the candidate graph of a templated
    * corpus is locally DENSE — ~300k edges over ~3k nodes (avg degree
    * ~206) closing ~23M real triangles — so enumeration, which any
    * exact per-node count must pay, is Θ(#triangles) and dominates the
    * query. Degree-ordered orientation would prune only non-closing
    * wedges, not real triangles, and is not worth its two extra degree
    * joins here; the knob that actually bounds the work at 100 TB is
    * the bucket cap, which caps every clique the LSH layer can emit.
    * Re-measured r9 (32 threads, min-of-3): degree orientation ties
    * (degrees are cap-uniform, no hubs to prune), and the per-edge
    * adjacency-intersection spelling (sorted neighbor arrays +
    * array_intersect per edge — no wedge shuffle) is 1.3–2.2× SLOWER:
    * at ~60-out-neighbor density the codegen'd shuffle join beats
    * per-row collection ops in the JVM. The 3-way join stays. */
  /** Write-once per-corpus PER-NODE triangle counts — the node-iterator
    * 3-way join's Θ(#triangles) enumeration is the dominant cost of BOTH
    * triangle consumers ([[graphTriangles]] ranks by count,
    * [[graphLocalClustering]] by coefficient), and the reduced per-node
    * frame is ≤|nodes| rows: exactly the build/serve split the edge
    * cache already follows. */
  private[ops] def triPerNodeCached(
      spark: SparkSession, dir: String): DataFrame = {
    val e = candGraphCached(spark, dir)
    val key = "tri|" + dirContentKey(dir, "documents.parquet")
    CorpusScope.cached("candGraph", key) {
      val ab = e.select(col("d1").as("a"), col("d2").as("b"))
      val bc = e.select(col("d1").as("b"), col("d2").as("c"))
      val ac = e.select(col("d1").as("a"), col("d2").as("c"))
      iterCheckpoint(ab.join(bc, "b").join(ac, Seq("a", "c"))
        .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_tri")))
    }
  }

  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val e = candGraphCached(spark, dir)
    val triPerNode = triPerNodeCached(spark, dir)
    val deg = e.select(col("d1").as("doc_id"))
      .unionByName(e.select(col("d2").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    deg.join(triPerNode, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        r6(when(col("degree") >= 2,
            coalesce(col("n_tri"), lit(0L)).cast("double") * 2.0 /
              (col("degree").cast("double") * (col("degree").cast("double") - 1.0)))
          .otherwise(lit(0.0))).as("clust_coef"))
      .orderBy(desc("n_tri"), desc("degree"), col("doc_id")).limit(20)
  }

  /** Incremental dedup of a NEW BATCH against a STANDING corpus — the
    * reference's A7 seen-set check (`src/bak_unload.ps1:57-66`) at
    * document granularity, and the shape every recurring ingest needs:
    * yesterday's corpus must not be re-deduped against itself each run.
    * The batch is the deterministic doc_id % 7 == 0 slice (~14%); the
    * standing side contributes ONLY its signatures — a content-hash map
    * (exact tier) and capped cross-source LSH band buckets (near tier) —
    * never a standing×standing pair. Tiers per batch doc:
    *
    *   exact  — content md5 equality against the standing hash map
    *            (broadcast/hash anti-join shape; at 100 TB the standing
    *            hash table is the persisted seen-set, not a rescan);
    *   near   — LSH band-bucket probe into the standing index
    *            ([[LshBucketCap]]-capped via MinKLongs), candidates
    *            verified by exact token-set Jaccard, best match kept
    *            (max jac, ties to the lower standing id), near iff
    *            jac ≥ 0.9 (the [[minhashLsh]] threshold);
    *   unique — neither tier fired.
    *
    * Output one row per batch doc with its status, matched standing doc
    * (−1 when none), and best Jaccard. The oracle replays both tiers,
    * including the QUALIFY-capped standing buckets. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    val sBase = withHashToks(d.filter(col("doc_id") % 7 =!= 0))
    val bBase = withHashToks(d.filter(col("doc_id") % 7 === 0))
    val (sHash, sBuckets, sSets) = standingSignatures(sBase)
    probeStanding(bBase, sHash, sBuckets, sSets)
  }

  private def withHashToks(df: DataFrame): DataFrame = df.select(
    col("doc_id"), col("source"),
    md5(col("text").cast("binary")).as("h"),
    // sorted for the sortedInter probe merge; the persisted index
    // round-trips array order exactly, and band signatures are
    // order-insensitive slice-minima
    array_sort(array_distinct(split(col("text"), " "))).as("toks"))

  /** The standing corpus's THREE signature artifacts — everything a
    * batch probe ever touches (the standing docs themselves are never
    * rescanned): the content-hash seen-set (exact tier), the
    * [[LshBucketCap]]-capped cross-source LSH band buckets (near-tier
    * candidates), and the per-doc token sets (near-tier verification). */
  private def standingSignatures(
      sBase: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // exact tier: min standing doc_id per content hash
    val sHash = sBase.groupBy("h").agg(min(col("doc_id")).as("exact_id"))
    // near tier: standing buckets are state-bounded (MinKLongs), keyed
    // cross-source (band, bsig); batch band rows probe them — an equi
    // join, never a batch×standing pair space. No size≥2 filter here:
    // a SINGLETON standing bucket is a perfectly good match candidate
    // (cappedBucketsBy's ≥2 filter exists for intra-corpus pairing).
    val sBuckets = bandRows(sBase.select("doc_id", "source", "toks"), "s")
      .groupBy("band", "bsig")
      .agg(graft.functions.MinKLongsAgg.minKLongs(col("doc_id"), LshBucketCap).as("ds"))
    val sSets = sBase.select(col("doc_id").as("s_id"), col("toks").as("s_toks"))
    (sHash, sBuckets, sSets)
  }

  /** The probe half shared verbatim by [[incremental]] (signatures
    * inline) and [[indexProbe]] (signatures read from the persisted
    * index) — the two cannot drift, so the one oracle gates both. */
  private def probeStanding(bBase: DataFrame, sHash: DataFrame,
      sBuckets: DataFrame, sSets: DataFrame): DataFrame = {
    val bBands = bandRows(bBase.select("doc_id", "source", "toks"), "s")
      .select(col("doc_id").as("b_id"), col("band"), col("bsig"))
    val cand = bBands.join(sBuckets, Seq("band", "bsig"))
      .select(col("b_id"), explode(col("ds")).as("s_id"))
      .distinct()
    val bSets = bBase.select(col("doc_id").as("b_id"), col("toks").as("b_toks"))
    val scored = cand.join(bSets, "b_id").join(sSets, "s_id")
      .select(col("b_id"), col("s_id"),
        sortedInter(col("b_toks"), col("s_toks")).as("inter"),
        size(col("b_toks")).as("nb"), size(col("s_toks")).as("ns"))
      .withColumn("jac", col("inter").cast("double")
        / (col("nb") + col("ns") - col("inter")).cast("double"))
    val best = scored.groupBy(col("b_id").as("doc_id"))
      .agg(
        max_by(col("s_id"), struct(col("jac"), -col("s_id"))).as("near_id"),
        max(col("jac")).as("bj"))
    bBase.select(col("doc_id"), col("source"), col("h"))
      .join(sHash, Seq("h"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("exact_id").isNotNull, "exact")
          .when(col("bj") >= 0.9, "near")
          .otherwise("unique").as("status"),
        when(col("exact_id").isNotNull, col("exact_id"))
          .when(col("bj") >= 0.9, col("near_id"))
          .otherwise(lit(-1L)).as("match_id"),
        r6(when(col("exact_id").isNotNull, lit(1.0))
          .otherwise(coalesce(col("bj"), lit(0.0)))).as("best_jac"))
      .orderBy("doc_id")
  }

  /** Ensure the persisted standing-corpus dedup index for `dir`: the
    * three signature artifacts of [[standingSignatures]] written once as
    * parquet. At 100 TB this is the seen-set the reference's A7 check
    * keeps in its state file (`src/bak_unload.ps1:57-66`), promoted to a
    * persisted document-granularity index: each day's batch probes it
    * without touching standing documents, and the engine never re-signs
    * the standing corpus. Write-once per corpus content
    * ([[CorpusScope.persisted]]). */
  private def ensureDedupIndex(spark: SparkSession, dir: String): (String, String, String) =
    CorpusScope.persisted("dedupIndex", spark, dir, "documents") { a =>
      val hashPath = a.path("shash_")
      val bktPath = a.path("sbkt_")
      val setPath = a.path("ssets_")
      val sBase = withHashToks(
        table(spark, dir, "documents").filter(col("doc_id") % 7 =!= 0))
      val (sHash, sBuckets, sSets) = standingSignatures(sBase)
      sHash.write.mode("overwrite").parquet(hashPath)
      sBuckets.write.mode("overwrite").parquet(bktPath)
      sSets.write.mode("overwrite").parquet(setPath)
      (hashPath, bktPath, setPath)
    }

  /** Incremental dedup served from the PERSISTED standing index —
    * [[incremental]]'s build/search separation: signatures are built and
    * written once ([[ensureDedupIndex]]); a batch probe reads only the
    * three signature tables (hash seen-set, capped band buckets, token
    * sets) and the batch slice. The probe plan runs zero
    * standing-signature jobs. Hashes, band signatures, and token arrays
    * round-trip parquet exactly, so the probe result is bit-identical to
    * the inline path and the SAME oracle gates both. */
  def indexProbe(spark: SparkSession, dir: String): DataFrame = {
    val (hashPath, bktPath, setPath) = ensureDedupIndex(spark, dir)
    val bBase = withHashToks(
      table(spark, dir, "documents").filter(col("doc_id") % 7 === 0))
    probeStanding(bBase,
      spark.read.parquet(hashPath),
      spark.read.parquet(bktPath),
      spark.read.parquet(setPath))
  }

  /** Persisted standing-corpus CC artifacts, written once per corpus
    * content ([[CorpusScope.persisted]]): the standing component LABELS
    * (doc → root over the standing-only candidate graph,
    * [[ccLargeSmallStar]]) and the
    * standing per-source capped band buckets batch rows probe (no ≥2
    * filter — a singleton standing bucket is a valid merge target). The
    * bucket table is written BUCKETED on the full probe key
    * (source, band, bsig) — co-partitioning requires ALL join keys
    * (Spark's requireAllClusterKeysForCoPartition default), a subset
    * layout gets its bucketed scan planner-disabled — so a serve-time
    * probe never shuffles the index side: the SOAK_r9 §7 refinement,
    * the same layout the PQ/IVF code tables use. At 100 TB these are the persisted cluster
    * state a daily dedup keeps between runs; the incremental query never
    * re-signs or re-clusters the standing corpus. */
  private def ensureCcIndex(spark: SparkSession, dir: String): (String, String) =
    CorpusScope.persisted("ccIndex", spark, dir, "documents") { a =>
      val lblPath = a.path("cclbl_")
      val bktTable = a.table("g_ccbkt_")
      val sBase = table(spark, dir, "documents")
        .filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("source"),
          array_distinct(split(col("text"), " ")).as("toks"))
      ccLargeSmallStar(candidateStarEdges(sBase, "s"), inputCanonical = true)
        .write.mode("overwrite").parquet(lblPath)
      bandRows(sBase, "s")
        .groupBy("source", "band", "bsig")
        .agg(graft.functions.MinKLongsAgg.minKLongs(col("doc_id"), LshBucketCap)
          .as("ds"))
        .write.format("parquet").mode("overwrite")
        .bucketBy(16, "source", "band", "bsig")
        .sortBy("source", "band", "bsig")
        .saveAsTable(bktTable)
      (lblPath, bktTable)
    }

  /** INCREMENTAL connected components — the reference's A7 incremental
    * contract (`src/bak_unload.ps1:57-66`) applied to the cluster
    * structure itself, completing the round's build/serve family
    * ([[indexProbe]] for pair dedup, `simsearch_*_upsert` for ANN): a
    * new batch (doc_id % 7 == 0) merges into the STANDING component
    * labels without re-clustering the standing corpus.
    *
    * Algebra: standing labels are exactly the components of the
    * standing-only candidate graph, so CONTRACTING every standing
    * endpoint of a batch-incident edge to its standing root preserves
    * connectivity — components of (standing edges ∪ batch edges) equal
    * components of the contracted graph, expanded back through the
    * label table. The fixpoint therefore runs on a graph whose node set
    * is batch docs + TOUCHED standing roots only; untouched standing
    * components cost zero work (the A7 property). Standing roots are
    * min-ids of their part, so the merged min-label root is the true
    * min over all members with no extra pass.
    *
    * Serve-path inputs: the two persisted artifacts ([[ensureCcIndex]])
    * + the batch slice — the standing corpus is scanned zero times
    * (PlanSpec-asserted). Edges: batch-internal star edges
    * ([[candidateStarEdges]], source-blocked + capped) and batch→
    * standing probes into the persisted capped buckets (equi join on
    * (source, band, bsig), never batch×standing). Output: every member
    * of a component touched by the batch — doc_id, merged root,
    * n_members, is_batch — i.e. exactly the closure over
    * standing ∪ batch edges restricted to batch-touched components,
    * which is what the recursive oracle replays. */
  /** The serve-time probe-edge frame of [[ccIncremental]], exposed for
    * plan assertions: the fixpoint checkpoints its input eagerly, so the
    * final query's plan no longer CONTAINS the probe subplan — the
    * serve-path properties (batch-slice-only documents scans, bucketed
    * index scan with no index-side exchange) are asserted on THIS frame,
    * which is exactly what executes when the serve runs. */
  private[graft] def ccProbeEdges(spark: SparkSession, dir: String): DataFrame = {
    val (lblPath, bktTable) = ensureCcIndex(spark, dir)
    val labels = spark.read.parquet(lblPath)
    val sBuckets = spark.table(bktTable)
    val bBase = table(spark, dir, "documents")
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("source"),
        array_distinct(split(col("text"), " ")).as("toks"))
    val eBB = candidateStarEdges(bBase, "s")
    // The batch probe side is CAPPED exactly like every other bucket
    // consumer (MinKLongs ≤ LshBucketCap per (source, band, bsig), the
    // oracle's bb QUALIFY): an uncapped probe would make one batch
    // mega-bucket expand bucket_size × cap rows, and batch docs beyond
    // the cap would diverge from the oracle's edge set.
    val eBS = bandRows(bBase, "s")
      .groupBy("source", "band", "bsig")
      .agg(graft.functions.MinKLongsAgg.minKLongs(col("doc_id"), LshBucketCap)
        .as("bds"))
      .join(sBuckets, Seq("source", "band", "bsig"))
      .select(explode(col("bds")).as("b_id"), col("ds"))
      .select(col("b_id"), explode(col("ds")).as("s_id"))
      .distinct()
    // contract the standing endpoint to its standing root (a standing
    // doc in no standing pair has no label row → it is its own root)
    val eBSc = eBS
      .join(labels.withColumnRenamed("doc_id", "s_id"), Seq("s_id"), "left")
      .select(col("b_id").as("d1"), coalesce(col("root"), col("s_id")).as("d2"))
    eBB.select(col("d1"), col("d2")).unionByName(eBSc)
  }

  def ccIncremental(spark: SparkSession, dir: String): DataFrame = {
    val (lblPath, _) = ensureCcIndex(spark, dir)
    val labels = spark.read.parquet(lblPath)
    // Canonicalize + checkpoint the contracted edge list BEFORE the
    // fixpoint: the star-edge/probe union's mixed lineage trips
    // Catalyst's Union constraint rewrite (key-not-found on the
    // internal src attribute), and the fixpoint re-transforms its input
    // every round anyway — cutting here costs one materialization of
    // the batch-incident edge list (batch-sized, never corpus-sized).
    val eIn = iterCheckpoint(
      ccProbeEdges(spark, dir)
        .select(least(col("d1"), col("d2")).as("d1"),
          greatest(col("d1"), col("d2")).as("d2"))
        .filter(col("d1") =!= col("d2")).distinct())
    val merged = ccLargeSmallStar(eIn, inputCanonical = true)
    // node ids split cleanly: batch ids ≡ 0 (mod 7), standing ids ≢ 0
    val mS = merged.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("r0"), col("root").as("newroot"))
    val standingPart = labels.join(mS, labels("root") === mS("r0"))
      .select(labels("doc_id"), col("newroot").as("root"))
    val standingSingles = mS
      .join(labels.select(col("root").as("r0")).distinct(), Seq("r0"), "left_anti")
      .select(col("r0").as("doc_id"), col("newroot").as("root"))
    val batchPart = merged.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("root"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("root")
    batchPart.unionByName(standingPart).unionByName(standingSingles)
      .withColumn("n_members", count(lit(1)).over(w))
      .select(col("doc_id"), col("root"), col("n_members"),
        when(col("doc_id") % 7 === 0, lit(1L)).otherwise(lit(0L)).as("is_batch"))
      .orderBy("doc_id")
  }

  /** Fuzzy-match verification over the LSH candidate pairs: Levenshtein
    * distance on the raw pair texts plus a length-normalized similarity —
    * the character-level check that catches small in-place edits token-set
    * Jaccard is blind to. Edit distance is integer-exact, so cross-engine
    * parity is unconditional; the similarity is one exact int/int division
    * (deterministic IEEE, no rounding needed). Cost is O(len²) per PAIR
    * but bounded by the candidate count, never the corpus — the LSH
    * filter already did the quadratic-avoidance part, which is exactly
    * why edit distance must run post-LSH and never as a pair generator.
    * Even post-LSH the pair count is corpus-dependent (251k candidates at
    * sf0.1 on this self-similar fixture — levenshtein on all of them took
    * the whole verify run from ~2 to ~11 minutes), so verification is
    * BUDGETED: a deterministic [[LevBudgetPerSource]]-pair cap per source
    * block, the same bounded-verification discipline production fuzzy
    * matchers use. The cap is inactive at sf0.01 (≈126 pairs/source) and
    * binding at sf0.1; the oracle applies the identical cap. */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = table(spark, dir, "documents")
    val base = d.select(col("doc_id"), col("source"),
      array_distinct(split(col("text"), " ")).as("toks"))
    val txt = d.select(col("doc_id"), col("text"))
    val w = Window.partitionBy("source").orderBy("d1", "d2")
    candidatePairs(base, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= LevBudgetPerSource)
      .drop("rn")
      .join(txt.select(col("doc_id").as("d1"), col("text").as("x1")), "d1")
      .join(txt.select(col("doc_id").as("d2"), col("text").as("x2")), "d2")
      // spread the budgeted pair set across all cores BEFORE the DP:
      // the O(|x1|·|x2|) Levenshtein dominates this query (the r14
      // toRdd re-baseline exposed it — count() had pruned the DP
      // entirely), and the post-join layout leaves it on however many
      // partitions the small pair frame happened to land on
      .repartition(spark.sparkContext.defaultParallelism, col("d1"), col("d2"))
      // ONE DP per pair: lev as a materialized column, sim derived from
      // it (two levenshtein() calls relied on codegen subexpression
      // elimination across a projection boundary — make it structural)
      .withColumn("lev", levenshtein(col("x1"), col("x2")).cast("long"))
      .select(col("source"), col("d1"), col("d2"), col("lev"),
        (lit(1.0) - col("lev").cast("double")
          / greatest(length(col("x1")), length(col("x2"))).cast("double")).as("sim"))
      .orderBy("source", "d1", "d2")
  }

  private[ops] val LevBudgetPerSource = 200

  /** SimHash(16): per token, bit j is the high bit of hex digit j of
    * md5(token); per doc, bit j of the signature is the sign of the
    * (+1/−1) vote sum over all tokens (frequency-weighted). Docs sharing a
    * (source, simhash) bucket cluster as near-dups. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val tok = tokens(spark, dir)
      .withColumn("mh", md5(col("token").cast("binary")))
    val votes = (0 until 16).map(j =>
      sum(when(substring(col("mh"), j + 1, 1).isin(highHex: _*), 1L).otherwise(-1L))
        .as(s"s$j"))
    val sig = tok.groupBy("doc_id", "source").agg(votes.head, votes.tail: _*)
    val bits: Seq[Column] = (0 until 16).map(j =>
      when(col(s"s$j") > 0, "1").otherwise("0"))
    sig.withColumn("simhash", concat(bits: _*))
      .groupBy("source", "simhash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .orderBy("source", "simhash", "min_doc")
  }

  /** Degree profile of the LSH candidate graph — the health check run
    * BEFORE the expensive graph consumers ([[graphTriangles]],
    * [[graphPagerank]]): per degree class, how many nodes, and the mean
    * neighbor degree (the degree-assortativity signal — rising avg
    * neighbor degree with degree means near-dup mass concentrates in a
    * few template clusters). Shape at scale: the edge set is the capped
    * candidate graph (deg ≤ bands·cap by construction); degrees are one
    * hash agg over the doubled edge list; neighbor-degree sums are one
    * self-join of that aggregate keyed on the high-cardinality node id.
    * Exactness: everything is exact longs until the final per-class
    * Σsdeg/Σk division (r6) — per-node doubles are never averaged. */
  def graphDegreeStats(spark: SparkSession, dir: String): DataFrame = {
    val e = candGraphCached(spark, dir)
    val und = e.select(col("d1").as("u"), col("d2").as("v"))
      .unionByName(e.select(col("d2").as("u"), col("d1").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val nbr = und
      .join(deg.select(col("u").as("v"), col("deg").as("vdeg")), "v")
      .groupBy("u").agg(sum(col("vdeg")).as("sdeg"), count(lit(1)).as("k"))
    deg.join(nbr, "u")
      .groupBy("deg")
      .agg(count(lit(1)).as("n_nodes"),
        r6(sum(col("sdeg")).cast("double") / sum(col("k")).cast("double"))
          .as("avg_nbr_deg"))
      .orderBy("deg")
  }

  /** Source-overlap matrix — the provenance question behind cross-source
    * dedup: for every source pair, how many near-dup candidate pairs
    * bridge them (ordered s1 ≤ s2, so syndication between two crawls
    * lands in one cell; the diagonal is within-source duplication).
    * Shape at scale: rides [[candidatePairsGlobal]] (state/output-
    * bounded, never all-pairs); the doc→source map joins ONCE on each
    * pair end keyed by the high-cardinality doc_id; the matrix itself
    * is ≤ |sources|² rows. */
  def dedupSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    val e = candGraphCached(spark, dir)
    val src = d.select(col("doc_id"), col("source"))
    val tagged = e
      .join(src.select(col("doc_id").as("d1"), col("source").as("src1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("src2")), "d2")
      .select(least(col("src1"), col("src2")).as("s1"),
        greatest(col("src1"), col("src2")).as("s2"))
    tagged.groupBy("s1", "s2").agg(count(lit(1)).as("n_pairs"))
      .orderBy("s1", "s2")
  }

  /** The dedup DASHBOARD row — the one-line summary a pipeline report
    * actually shows: corpus size, exact-duplicate count (docs minus
    * distinct content hashes), candidate-pair volume from the capped
    * cross-source LSH generator, docs touched by any candidate, and the
    * cross-source bridge count, with exact/near rates. Pure composition
    * of the existing bounded generators — one content-hash distinct, one
    * capped candidate pass, three one-row aggregates broadcast
    * together. */
  def dedupRateReport(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    val e = candGraphCached(spark, dir)
    val src = d.select(col("doc_id"), col("source"))
    val cross = e
      .join(src.select(col("doc_id").as("d1"), col("source").as("src1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("src2")), "d2")
      .agg(count(lit(1)).as("ne"),
        sum(when(col("src1") =!= col("src2"), 1L).otherwise(0L)).as("nx"))
    val inPairs = e.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct().agg(count(lit(1)).as("np"))
    d.agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text").cast("binary"))).as("ndist"))
      .crossJoin(broadcast(cross)).crossJoin(broadcast(inPairs))
      .select(col("n_docs"), (col("n_docs") - col("ndist")).as("n_exact_dup"),
        col("ne").as("n_candidate_pairs"), col("np").as("n_docs_in_pairs"),
        col("nx").as("n_cross_source_pairs"),
        r6((col("n_docs") - col("ndist")).cast("double") /
          col("n_docs").cast("double")).as("exact_rate"),
        r6(col("np").cast("double") / col("n_docs").cast("double")).as("near_rate"))
  }

  /** Exact-duplicate CLUSTER-SIZE histogram — how duplication is
    * structured, not just how much: for each group size, how many
    * content-hash groups and docs, plus the overall share of docs
    * sitting in any size ≥ 2 cluster (the number deduplication will
    * delete is Σ(sz−1)·n_groups — readable straight off this table).
    * Shape at scale: one content-hash agg (map-side partials), one
    * size agg over the group table, one full-frame window over the ≤
    * |distinct sizes| histogram. */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val sizes = table(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_groups"))
      .withColumn("n_docs", col("sz") * col("n_groups"))
    val wf = org.apache.spark.sql.expressions.Window.orderBy("sz")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    sizes
      .withColumn("tot", sum(col("n_docs")).over(wf))
      .withColumn("dup_docs",
        sum(when(col("sz") >= 2, col("n_docs")).otherwise(0L)).over(wf))
      .select(col("sz"), col("n_groups"), col("n_docs"),
        r6(col("dup_docs").cast("double") / col("tot").cast("double"))
          .as("dup_doc_share"))
      .orderBy("sz")
  }

  /** Chunk-level NEAR dedup — the missing granularity between
    * [[Text.dedupChunkExact]] (exact chunk hashes) and whole-document
    * MinHash: cross-document passage sharing where the shared paragraph
    * was EDITED (the RefinedWeb/decontamination case an exact chunk hash
    * misses). Chunks ([[Text.chunkRows]]'s 8-token/stride-6 geometry —
    * one definition, three consumers) become pseudo-docs keyed
    * doc_id·10⁶+ci (packing holds below 2⁴³ docs × 10⁶ chunks/doc) and
    * run through the SAME capped LSH candidate machinery
    * ([[candidatePairs]] under one global block — paragraph reuse is
    * inherently cross-source); exact chunk-set Jaccard verifies; the
    * rollup reports the top-20 DOC pairs by verified near-chunk count
    * (same-doc chunk pairs excluded — stride overlap is not reuse).
    * Shape at scale: chunking is a Generator (zero shuffle); everything
    * after is the proven bounded LSH path at ~n/6-token chunk
    * cardinality; the rollup is one hash agg on (doc_a, doc_b) +
    * TakeOrdered(20). Bucket cap: [[ChunkBucketCap]] (64), TIGHTER than
    * the whole-doc [[LshBucketCap]] — 8-token chunk signatures are far
    * less distinctive than whole-doc ones, so degenerate buckets are
    * the norm, not the exception (measured at sf0.1: cap 256 expanded
    * 45k chunks into 4.95M candidate pairs, 9.2 s of pair
    * verification; cap 64 bounds each bucket at 2016 pairs). The
    * out-of-cap recall trade lands on mega-buckets of near-identical
    * boilerplate chunks — exactly what [[Text.dedupChunkExact]]
    * already catches by hash. */
  private[ops] val ChunkBucketCap = 64

  def dedupChunkMinhash(spark: SparkSession, dir: String): DataFrame = {
    // (r16 optimization round: iterCheckpoint of the post-slice chunk
    // rows — the frame is referenced three times — was A/B'd and
    // REJECTED on two trusted full-bench runs: 2.83/2.90 s vs the
    // 2.70 s baseline; materializing even the narrow 8-token rows
    // costs more per run than the saved tokenize+explode re-derives.
    // Same lesson as the minhashLshOver/minhashEstimate rejects.)
    val chunks = Text.chunkRows(spark, dir)
      .select((col("doc_id") * 1000000L + col("ci")).as("doc_id"),
        lit("all").as("source"),
        array_sort(array_distinct(slice(col("toks"),
          (col("ci") * 6 + 1).cast("int"), lit(8)))).as("toks"))
    val cand = candidatePairs(chunks, "s", ChunkBucketCap)
    val sets = chunks.select(col("doc_id"), col("toks"))
    val jac = cand
      .join(sets.select(col("doc_id").as("dd1"), col("toks").as("t1")),
        col("d1") === col("dd1"))
      .join(sets.select(col("doc_id").as("dd2"), col("toks").as("t2")),
        col("d2") === col("dd2"))
      .withColumn("inter", sortedInter(col("t1"), col("t2")))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("t1")) + size(col("t2")) - col("inter")).cast("double"))
    jac
      .withColumn("da", expr("d1 DIV 1000000"))
      .withColumn("db", expr("d2 DIV 1000000"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jac"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_chunk_pairs"),
        sum(when(col("jac") >= 0.7, 1L).otherwise(0L)).as("n_near"))
      .filter(col("n_near") >= 1)
      .orderBy(desc("n_near"), desc("n_chunk_pairs"), col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Community detection by LABEL PROPAGATION over the candidate star
    * graph — the frequency-based sibling of [[ccGroups]]: CC answers
    * "connected at all", LPA's majority vote finds DENSE regions, the
    * communities a curator samples from when whole components are too
    * coarse. Four SYNCHRONOUS rounds, each node taking the most
    * frequent label among its neighbors PLUS ITSELF (the self-vote
    * breaks the bipartite oscillation synchronous LPA exhibits on
    * star-shaped graphs), ties to the SMALLEST label — both choices
    * deterministic, so the oracle replays the identical four rounds.
    * Shape at scale: one vote round = one join of the checkpointed
    * (capped, deg ≤ bands·cap) edge set against the label frame + two
    * hash aggs; four rounds are fixed — no convergence driver loop, no
    * corpus-sized window. Output: top-20 communities by size. */
  def graphLabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val star = starGraphCached(spark, dir)
    val edges = star.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(star.select(col("d2").as("src"), col("d1").as("dst")))
    val nodes = edges.select(col("src")).distinct()
    // self-loops fold the self-vote into the same join as neighbor votes
    val voteEdges = edges
      .unionByName(nodes.select(col("src"), col("src").as("dst")))
      .transform(iterCheckpoint) // reused by all four rounds
    var lbl = nodes.select(col("src").as("v"), col("src").as("l"))
    for (_ <- 1 to 4) {
      lbl = voteEdges
        .join(lbl.select(col("v").as("dst"), col("l").as("nl")), "dst")
        .groupBy(col("src"), col("nl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max_by(col("nl"), struct(col("c"), -col("nl"))).as("l"))
        .select(col("src").as("v"), col("l"))
    }
    lbl.groupBy(col("l").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(desc("n_members"), col("community"))
      .limit(20)
  }

  /** LSH CALIBRATION CURVE — the tuning readout behind the engine's
    * (bands=2, rows=3) choice: candidate pairs bucketed by exact
    * Jaccard, against the theoretical capture probability
    * p(j) = 1−(1−jʳ)ᵇ of the current config and the two alternates the
    * K=6 signature admits ((3,2), (6,1)). est_true_pairs = n/p inverts
    * the capture rate into an estimate of the TRUE near-dup mass per
    * similarity band — the number a curator needs to know what the
    * candidate set is missing at each threshold (companions:
    * [[minhashEstimate]] calibrates the estimator,
    * [[thresholdSweep]] the cutoff; this calibrates the BANDING).
    * Shape at scale: rides the shared bounded candidate+verify path;
    * the curve is closed-form math over the ≤10-bucket aggregate.
    * Exactness: the S-curves are REPEATED MULTIPLICATION on the
    * r6-rounded mean Jaccard (no libm pow — both engines evaluate the
    * identical polynomial), per-pair jac r6→DECIMAL before the bucket
    * mean. */
  def dedupLshCalibration(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "documents").select(
      col("doc_id"), col("source"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
    val cand = candidatePairs(base, "s")
    val sets = base.select(col("doc_id"), col("toks"))
    val jac = cand
      .join(sets.select(col("doc_id").as("dd1"), col("toks").as("t1")),
        col("d1") === col("dd1"))
      .join(sets.select(col("doc_id").as("dd2"), col("toks").as("t2")),
        col("d2") === col("dd2"))
      .withColumn("inter", sortedInter(col("t1"), col("t2")))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("t1")) + size(col("t2")) - col("inter")).cast("double"))
    val buckets = jac
      .withColumn("bucket", least(lit(9L), floor(col("jac") * 10).cast("long")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_obs"),
        r6(sum(r6(col("jac")).cast(DecimalType(16, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_jac"))
    val j = col("mean_jac")
    val j2 = j * j; val j3 = j2 * j
    def sCurve(miss: Column) = lit(1.0) - miss
    val m23 = (lit(1.0) - j3) * (lit(1.0) - j3)
    val m32 = (lit(1.0) - j2) * (lit(1.0) - j2) * (lit(1.0) - j2)
    val m61 = { val t = lit(1.0) - j; t * t * t * t * t * t }
    buckets
      .withColumn("p_b2r3", r6(sCurve(m23)))
      .withColumn("p_b3r2", r6(sCurve(m32)))
      .withColumn("p_b6r1", r6(sCurve(m61)))
      .withColumn("est_true_pairs",
        when(col("p_b2r3") > 0,
          r4(col("n_obs").cast("double") / col("p_b2r3"))))
      .orderBy("bucket")
  }

  /** Fixed-round 2-core peel of the LSH candidate graph — the density
    * skeleton: repeatedly delete degree-<2 nodes and their edges, and
    * report the (nodes, edges) survivor curve per round. Leaves and
    * isolated pairs — docs with ONE near-dup partner — melt away, so the
    * surviving core is exactly the template-cluster mass that
    * [[graphTriangles]]/[[graphPagerank]] spend their budget on; the
    * curve's flattening says how many peel rounds a full k-core would
    * need. FOUR rounds, not a fixpoint: fixed rounds keep the
    * computation oracle-replayable CTE-for-CTE (both engines run the
    * same four peels), and the curve itself shows convergence. Shape at
    * scale: per round one hash agg (degrees) + two semi joins keyed on
    * the high-cardinality node id, over the capped candidate graph
    * (deg ≤ bands·cap by construction); rounds are chain-checkpointed
    * ([[Util.ChainCheckpoint]]) so round k never re-executes 1..k−1 and
    * superseded round files are reclaimed. Per-round stats come off the
    * just-materialized checkpoint — two bounded scalar reads per round,
    * the [[ccMinLabel]] driver-state discipline. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val chain = new Util.ChainCheckpoint
    var edges = candGraphCached(spark, dir)
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    for (r <- 1 to 4) {
      val deg = edges.select(col("d1").as("u"))
        .unionByName(edges.select(col("d2").as("u")))
        .groupBy("u").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= 2).select(col("u"))
      edges = edges
        .join(keep.select(col("u").as("d1")), Seq("d1"), "left_semi")
        .join(keep.select(col("u").as("d2")), Seq("d2"), "left_semi")
        .transform(chain(_))
      val nEdges = edges.count()
      val nNodes = edges
        .select(explode(array(col("d1"), col("d2"))).as("u"))
        .agg(countDistinct(col("u"))).collect()(0).getLong(0)
      stats += ((r.toLong, nNodes, nEdges))
    }
    spark.createDataFrame(stats.toSeq)
      .toDF("round", "n_nodes", "n_edges")
      .orderBy("round")
  }

  /** Common-neighbor / neighborhood-Jaccard scoring over the candidate
    * graph — THE classic link-prediction features: for every node pair
    * sharing at least one neighbor, |N(a)∩N(b)| and the neighbor-set
    * Jaccard |N∩|/|N∪|, with an is_edge flag separating "already a
    * candidate pair" from "predicted by shared neighborhoods only" (the
    * second kind is what LSH MISSED but the graph structure implies —
    * the transitive near-dups a banding config never bucketed
    * together). Shape at scale: one wedge join keyed on the shared
    * neighbor w — cost Σ_w deg(w)², bounded because deg ≤ bands·cap on
    * the capped graph (the [[graphTriangles]] argument); degrees join
    * on the high-cardinality node id; output is top-20. */
  def graphCommonNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val e = candGraphCached(spark, dir)
    val (_, deg) = undDegCached(spark, dir)
    // wedge enumeration as the streamed self-join on the center — the
    // A/B here went the OTHER way from the LSH bucket expansion: a
    // collect_list+SortedPairs spelling (one shuffle, per-row expansion)
    // measured 21.2 s vs the join's 9.4 s at sf0.1, because the
    // object-agg + per-center array materialization loses whole-stage
    // codegen while the join streams pairs straight into the partial
    // agg. Since round 12 the enumeration runs ONCE per corpus
    // ([[wedgePairsCached]], shared with adamic-adar); this query serves
    // the count column off the checkpointed pair frame.
    val cn = wedgePairsCached(spark, dir).select("a", "b", "n_common")
    cn.join(deg.select(col("u").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("db")), "b")
      .join(e.select(col("d1").as("a"), col("d2").as("b"),
        lit(true).as("is_edge")), Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("n_common"),
        r6(col("n_common").cast("double") /
          (col("da") + col("db") - col("n_common")).cast("double"))
          .as("nbr_jaccard"),
        coalesce(col("is_edge"), lit(false)).as("is_edge"))
      .orderBy(desc("n_common"), col("a"), col("b")).limit(20)
  }

  /** Adamic-Adar link prediction over the candidate graph — the
    * degree-discounted cousin of [[graphCommonNeighbors]]: a shared
    * neighbor w votes 1/ln(deg(w)), so rare co-bucketing is strong
    * evidence and a promiscuous hub (the shingle-collision stitcher)
    * is nearly mute. The pairs this surfaces that are NOT already
    * edges are the near-dups the banding config missed but the
    * structure implies. Shape at scale: the same wedge join keyed on
    * the shared center w (Σ_w deg(w)², bounded by the bands·cap
    * degree ceiling). Exactness AND wedge-agg speed: the weight is
    * quantized ONCE PER CENTER to integer MICROS (floor(1e6/ln(deg) +
    * 0.5) — exact and identical both engines) and then ENCODED INTO
    * THE JOIN KEY ITSELF: wk = w·2²¹ + micros (micros ≤ ln(2)⁻¹·1e6 <
    * 2²¹; injective in w for doc ids < 2⁴², documented headroom).
    * Measured A/B at sf0.1, graph served from cache: carrying the
    * weight as a separate column through the wedge join ran 27–39 s
    * in every spelling tried (stream side, build side, pre-shuffled,
    * null-free — a consistent ~3.5× cliff once the probe row grows a
    * third column), while summing `wk % 2²¹` off the two-column
    * encoded key runs 9.9 s — the count-only common-neighbors
    * baseline. The hot partial agg stays a plain long adder in
    * whole-stage codegen; the score divides back by 1e6 on the
    * model-sized top-k; ordering ties break on (a, b). */
  /** The wedge-pair BUILD plan shared by [[graphCommonNeighbors]] and
    * [[graphAdamicAdar]]: one self-join of the weight-key-encoded
    * undirected frame, aggregated per pair into the common-neighbor
    * count AND the Adamic-Adar micros sum. Exposed pre-checkpoint so
    * PlanSpec can lock the two-column wedge probe shape (the measured
    * ~3.5× third-column cliff).
    *
    * deg floor 2: deg-1 centers form no wedge, but the key must be
    * computable (non-null) for every edge row. The micros weight comes
    * from the SHARED LITERAL lookup [[aaMicrosTable]] (trig-table
    * discipline), not a per-engine libm ln: the degree domain is
    * bounded by Bands·LshBucketCap, so both engines join the identical
    * (deg → micros) table and a 1-ulp ln divergence landing on a .5
    * floor boundary can never flip the key-encoded weight. wk =
    * w·2²¹ + micros is injective in w (micros ≤ ln(2)⁻¹·1e6 < 2²¹,
    * doc ids < 2⁴²), so joining on wk IS joining on the center —
    * n_common off the encoded key equals the plain-center count. */
  private[graft] def wedgePairsBuild(
      spark: SparkSession, dir: String): DataFrame = {
    val (und, deg) = undDegCached(spark, dir)
    val lut = spark.createDataFrame(aaMicrosTable).toDF("degk", "awu")
    val wt = deg
      .select(col("u").as("v"),
        least(greatest(col("deg"), lit(2L)), lit(AaMaxDeg.toLong)).as("degk"))
      .join(broadcast(lut), "degk")
      .select(col("v"), col("awu"))
    val undK = und.join(wt, "v")
      .select(col("u"), (col("v") * lit(2097152L) + col("awu")).as("wk"))
    undK.select(col("u").as("a"), col("wk"))
      .join(undK.select(col("u").as("b"), col("wk")), "wk")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"),
        sum(col("wk") % lit(2097152L)).as("aau"))
  }

  /** Write-once per-corpus wedge-PAIR features (n_common, aau micros per
    * candidate pair sharing ≥1 neighbor) — the Σ deg² wedge enumeration
    * is the dominant cost of BOTH link-prediction consumers, and the
    * reduced pair frame is the dedup-index artifact a 100 TB run would
    * materialize once (the edge/degree/triangle cache discipline). */
  private[ops] def wedgePairsCached(
      spark: SparkSession, dir: String): DataFrame = {
    val key = "wedge|" + dirContentKey(dir, "documents.parquet")
    // CorpusScope builds outside the map lock under a per-key monitor,
    // so the nested undDegCached call inside this build (same family,
    // different keys) is safe — the hazard that forced the old
    // get/putIfAbsent spelling on the shared ConcurrentHashMap.
    CorpusScope.cached("candGraph", key)(
      iterCheckpoint(wedgePairsBuild(spark, dir)))
  }

  def graphAdamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val e = candGraphCached(spark, dir)
    wedgePairsCached(spark, dir)
      .join(e.select(col("d1").as("a"), col("d2").as("b"),
        lit(true).as("is_edge")), Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("n_common"),
        (col("aau").cast("double") / lit(1e6)).as("aa_score"),
        coalesce(col("is_edge"), lit(false)).as("is_edge"))
      .orderBy(desc("aa_score"), col("a"), col("b")).limit(20)
  }

  /** Degree assortativity of the candidate graph — the Pearson
    * correlation of endpoint degrees over every directed edge, the
    * one-number answer to "do heavy-bucket docs collide with each
    * other (templated cliques, r>0) or with singletons (hub-and-spoke
    * collision noise, r<0)?" — which decides whether cluster-level or
    * pair-level review is the right dedup QA posture. Shape at scale:
    * degrees off one hash agg, two hash joins to annotate endpoints,
    * then a single pass of exact DECIMAL moment sums ((18,0)² stays
    * inside precision 38); r is ONE double expression, r6, NULL for a
    * degree-regular graph (zero variance). */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val d180 = org.apache.spark.sql.types.DecimalType(18, 0)
    val (und, deg) = undDegCached(spark, dir)
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("deg")).as("sum_deg"))
    val j = und
      .join(deg.select(col("u"), col("deg").cast(d180).as("du")), "u")
      .join(deg.select(col("u").as("v"), col("deg").cast(d180).as("dv")),
        "v")
    val s = j.agg(count(lit(1)).as("m"),
      sum(col("du")).as("sdu"), sum(col("dv")).as("sdv"),
      sum(col("du") * col("dv")).as("sduv"),
      sum(col("du") * col("du")).as("sduu"),
      sum(col("dv") * col("dv")).as("sdvv"))
    def d(cn: String) = col(cn).cast("double")
    val mD = d("m")
    val cov = mD * d("sduv") - d("sdu") * d("sdv")
    val vu = mD * d("sduu") - d("sdu") * d("sdu")
    val vv = mD * d("sdvv") - d("sdv") * d("sdv")
    s.crossJoin(broadcast(nodes))
      .select(col("n_nodes"), (col("m") / 2).cast("long").as("n_edges"),
        r4(d("sum_deg") / d("n_nodes")).as("mean_deg"),
        r6(when(vu > 0 && vv > 0, cov / (sqrt(vu) * sqrt(vv))))
          .as("assortativity"))
  }

  /** Per-node local clustering coefficient over the candidate graph —
    * lcc(v) = closed wedges at v / all wedges at v = 2·tri(v)/(deg(v)·
    * (deg(v)−1)), the node-level readout [[graphTriangles]]' global
    * count can't give: lcc ≈ 1 flags a template CLIQUE (curate as one
    * cluster), lcc ≈ 0 at high degree flags a shingle-collision hub
    * (banding noise — the pairs are not mutually similar). Shape at
    * scale: the SAME wedge self-join as [[graphCommonNeighbors]]
    * (Σ deg(w)², bounded by the bands·cap degree ceiling) grouped by
    * the CENTER instead of the pair, with closure tested by a left
    * join against the canonical d1<d2 edge set; top-20 via
    * TakeOrdered. Serves from the cached undirected/degree frames. */
  def graphLocalClustering(spark: SparkSession, dir: String): DataFrame = {
    val (_, deg) = undDegCached(spark, dir)
    // the closed-wedge count at v IS the per-node triangle count (each
    // triangle through v closes exactly one wedge centered at v), so the
    // whole query serves from the cached per-node triangle frame; the
    // denominator needs no wedge enumeration at all — it is C(deg, 2)
    // off the cached degree frame (the identity the planted spec pins).
    // The first bench spelling enumerated all Σ deg² und-wedges and
    // LEFT-joined edges through the aggregate: 11.1 s → sub-second serve.
    deg.filter(col("deg") >= 2)
      .select(col("u").as("doc_id"), col("deg"),
        // integer div (not double /): exact at ANY degree, not just while
        // deg·(deg−1) < 2^53 (ADVICE r12 — safe today at deg ≤ 512, but
        // this must not silently break if the bucket cap is ever raised)
        expr("deg * (deg - 1) div 2").as("n_wedges"))
      .join(triPerNodeCached(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"), col("n_wedges"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        r6(coalesce(col("n_tri"), lit(0L)).cast("double") /
          col("n_wedges").cast("double")).as("lcc"))
      .orderBy(desc("lcc"), desc("deg"), col("doc_id")).limit(20)
  }

  /** Modularity Q of the 4-round LPA partition over the candidate-PAIR
    * graph — the quality number for [[graphLabelPropagation]]'s
    * communities: Q = Σ_c (L_c/m − (D_c/2m)²), the fraction of edges
    * inside communities minus what a degree-preserving random graph
    * would put there. Q near 0 says the "communities" are banding
    * artifacts; Q ≫ 0 says template clusters are real structure worth
    * per-cluster curation. Runs LPA on the PAIR graph (real adjacency —
    * the star graph's hub edges would distort both the vote and the
    * degree terms). Shape at scale: the 4 fixed vote rounds are joins of
    * the checkpointed capped edge set ([[graphLabelPropagation]]'s
    * shape); the modularity terms are two hash aggs to the ≤|communities|
    * frame, each term r6→DECIMAL(16,6) before the Q sum. */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val d166 = org.apache.spark.sql.types.DecimalType(16, 6)
    val pairs = candGraphCached(spark, dir)
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(pairs.select(col("d2").as("src"), col("d1").as("dst")))
    val nodes = edges.select(col("src")).distinct()
    val voteEdges = edges
      .unionByName(nodes.select(col("src"), col("src").as("dst")))
      .transform(iterCheckpoint)
    var lbl = nodes.select(col("src").as("v"), col("src").as("l"))
    for (_ <- 1 to 4) {
      lbl = voteEdges
        .join(lbl.select(col("v").as("dst"), col("l").as("nl")), "dst")
        .groupBy(col("src"), col("nl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max_by(col("nl"), struct(col("c"), -col("nl"))).as("l"))
        .select(col("src").as("v"), col("l"))
    }
    // the final labels feed THREE subtrees (within-community edges,
    // community degrees, sizes) — materialized once so the 4-round vote
    // chain doesn't re-execute per consumer
    lbl = lbl.transform(iterCheckpoint)
    val mDf = pairs.agg(count(lit(1)).as("m"))
    val deg = edges.groupBy(col("src").as("u")).agg(count(lit(1)).as("deg"))
    val lc = pairs
      .join(lbl.select(col("v").as("d1"), col("l").as("l1")), "d1")
      .join(lbl.select(col("v").as("d2"), col("l").as("l2")), "d2")
      .filter(col("l1") === col("l2"))
      .groupBy(col("l1").as("c")).agg(count(lit(1)).as("lc"))
    val dc = deg.join(lbl, deg("u") === lbl("v"))
      .groupBy(col("l").as("c")).agg(sum(col("deg")).as("dc"))
    val terms = dc.join(lc, Seq("c"), "left")
      .crossJoin(broadcast(mDf))
      .select(r6(coalesce(col("lc"), lit(0L)).cast("double") /
          col("m").cast("double")
        - (col("dc").cast("double") / (lit(2.0) * col("m").cast("double"))) *
          (col("dc").cast("double") / (lit(2.0) * col("m").cast("double"))))
        .cast(d166).as("term"))
      .agg(sum(col("term")).as("q"), count(lit(1)).as("n_communities"))
    val sizes = lbl.groupBy("l").agg(count(lit(1)).as("sz"))
      .agg(max(col("sz")).as("max_sz"), sum(col("sz")).as("n_nodes"))
    mDf.crossJoin(broadcast(terms)).crossJoin(broadcast(sizes))
      .select(col("n_nodes"), col("m").as("n_edges"), col("n_communities"),
        col("q").cast("double").as("q_modularity"),
        r6(col("max_sz").cast("double") / col("n_nodes").cast("double"))
          .as("top_community_share"))
  }

  /** Content-defined chunking (CDC) sub-document dedup — the
    * insertion-robust alternative to fixed-width chunks
    * ([[graft.ops.Text]]'s `dedup_chunk_exact` re-chunks at fixed
    * offsets, so ONE inserted token shifts every later chunk and kills
    * every later match; CDC cuts where a rolling CONTENT hash hits a
    * boundary pattern, so chunk edges travel with the content and
    * shared spans re-align after any local edit — the rsync/LBFS/
    * FastCDC principle applied to training-text dedup). Chunker: a
    * degree-3 polynomial rolling hash over a 4-token window (per-token
    * 28-bit md5 prefixes, Horner weights 31³..31⁰ — fits long with no
    * modulo), boundary where hash % 16 == 0 (expected ~16-token
    * chunks); chunk identity is the md5 of the joined tokens. Report:
    * chunks ≥ 5 tokens appearing in ≥ 2 documents, top-20. Scale
    * shape: per-doc O(tokens) map work (every HOF input is
    * [[Util.boundCol]]-bound — collapsed projections would re-hash the
    * token array PER POSITION), one hash-agg shuffle on chunk_hash; no
    * pair space anywhere. */
  def dedupCdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = table(spark, dir, "documents").select(col("doc_id"),
      boundCol(split(col("text"), " ")) { tk =>
        boundCol(transform(tk, t =>
          conv(substring(md5(t.cast("binary")), 1, 7), 16, 10)
            .cast("long"))) { th =>
          boundCol(
            when(size(tk) >= 4,
              filter(sequence(lit(4), size(tk)), i =>
                (element_at(th, i - 3) * lit(29791L) +
                  element_at(th, i - 2) * lit(961L) +
                  element_at(th, i - 1) * lit(31L) +
                  element_at(th, i)) % 16 === 0))
              .otherwise(array().cast("array<int>"))) { bp =>
            zip_with(
              concat(array(lit(1)), transform(bp, x => x + 1)),
              concat(bp, array(size(tk))),
              (s, e) => struct(
                md5(concat_ws(" ", slice(tk, s, e - s + 1)).cast("binary"))
                  .as("ch"),
                (e - s + 1).as("tl"), s.as("s"), e.as("e")))
          }
        }
      }.as("chunks"))
    chunks.select(col("doc_id"), explode(col("chunks")).as("c"))
      .filter(col("c.s") <= col("c.e") && col("c.tl") >= 5)
      .groupBy(col("c.ch").as("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occur"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        max(col("c.tl")).cast("long").as("token_len"))
      .filter(col("n_docs") >= 2)
      .orderBy(desc("n_docs"), desc("n_occur"), col("chunk_hash"))
      .limit(20)
  }

  /** Multi-source BFS over the candidate graph, 3 unrolled frontier
    * rounds from the 3 highest-degree nodes — "how much of the near-dup
    * neighborhood is within k hops of the hubs", the reachability
    * primitive under blast-radius analysis (if these hub templates are
    * dropped, what else is close enough to reconsider) and the Pregel
    * iteration shape LPA/PageRank/CC all share, here in its plainest
    * form: frontier_t = neighbors(frontier_{t−1}) \ labeled. Each round
    * is one equi join + one anti join on the label set (both
    * shuffle-parallel, frontier-sized — never corpus-sized), labels are
    * [[Util.iterCheckpoint]]'d so round k never re-executes rounds
    * 1..k−1. Output: one row per distance layer (plus −1 = graph nodes
    * unreached within 3 hops). */
  def graphBfsLayers(spark: SparkSession, dir: String): DataFrame = {
    val e = candGraphCached(spark, dir)
    val und = e.select(col("d1").as("u"), col("d2").as("v"))
      .unionByName(e.select(col("d2").as("u"), col("d1").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("degree"))
    val seeds = deg.orderBy(desc("degree"), col("u")).limit(3)
      .select(col("u").as("doc_id"), lit(0L).as("dist"))
    var labels = seeds.transform(iterCheckpoint)
    for (t <- 1 to 3) {
      val frontier = und
        .join(labels.filter(col("dist") === t - 1)
          .select(col("doc_id").as("u")), "u")
        .select(col("v").as("doc_id")).distinct()
        .join(labels, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(t.toLong).as("dist"))
      labels = labels.unionByName(frontier).transform(iterCheckpoint)
    }
    val unreached = und.select(col("u").as("doc_id")).distinct()
      .join(labels, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(-1L).as("dist"))
    labels.unionByName(unreached).groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("dist")
  }

  /** SAMPLED harmonic-closeness centrality — the centrality rung between
    * `graph_degree_stats` (purely local) and `graph_pagerank` (global
    * fixpoint): per-seed bounded BFS from the 3 highest-degree nodes
    * (ties by id, the `graph_bfs_layers` seed rule) to depth 3 over the
    * shared cached candidate graph, then harmonic closeness
    * Σ_reached 1/dist. Exact to the last bit: the per-distance weights
    * are integer MICRO-weights (1e6, 5e5, 333333 — shared literals, the
    * [[HawkesW]]/trig-table discipline), so the centrality order is
    * decided in long arithmetic and only the final normalized value is
    * one r6-rounded double division chain. Scale: each BFS round is a
    * frontier hash-join + anti-join keyed (seed, node) — 3 seeds × 3
    * rounds of linear passes, never an all-pairs distance matrix; the
    * exact-closeness alternative (BFS from EVERY node) is the quadratic
    * path this sampled spelling exists to avoid. Sampled-seed closeness
    * is the production discipline (Eppstein-Wang estimation). */
  /** Sampled BRANDES betweenness over the candidate graph — the
    * bridge-detection companion of [[graphClosenessSample]]: from the
    * same 3 highest-degree seeds, a forward BFS carries shortest-path
    * COUNTS σ (summed over predecessors per layer — the Brandes DAG),
    * then the backward pass accumulates dependencies
    * δ(u) = Σ_child σu/σw·(1 + δw) layer by layer. Depth-capped at 3
    * (k-bounded betweenness — the standard sampled/truncated variant;
    * exact Brandes is O(V·E) and exists nowhere at 100 TB), so nodes AT
    * the cap contribute 0 onward. Exactness: σ are exact longs; each
    * dependency term is the integer round-half-up
    * (2σu(1e6+δw) + σw) div 2σw in 1e-6 units, summed exactly — the
    * [[graphClosenessSample]] harmonic-micro discipline, so the
    * backward pass is order-independent and engine-identical. Shape at
    * scale: per-layer joins over the cached edge frame keyed on
    * (seed, node); every frame is ≤ 3·|reach| rows. */
  def graphBetweennessSample(spark: SparkSession, dir: String): DataFrame =
    betweennessFromEdges(spark, candGraphCached(spark, dir))

  /** Algorithm body on an explicit (d1, d2) edge frame — the spec feeds
    * a hand-built path graph and asserts hand-computed Brandes values. */
  private[graft] def betweennessFromEdges(
      spark: SparkSession, e: DataFrame): DataFrame = {
    val und = e.select(col("d1").as("u"), col("d2").as("v"))
      .unionByName(e.select(col("d2").as("u"), col("d1").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("degree"))
    val seeds = deg.orderBy(desc("degree"), col("u")).limit(3)
      .select(col("u").as("seed"))
    var lab = seeds
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"),
        lit(1L).as("sigma"))
      .transform(iterCheckpoint)
    for (t <- 1 to 3) {
      val par = lab.filter(col("dist") === t - 1)
        .select(col("seed"), col("node").as("u"), col("sigma"))
      val next = und.join(par, "u")
        .groupBy(col("seed"), col("v").as("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(lab, Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(t.toLong).as("dist"),
          col("sigma"))
      lab = lab.unionByName(next).transform(iterCheckpoint)
    }
    // backward accumulation, dist 2 then 1 (dist-3 nodes: δ = 0 by cap)
    def layerDelta(parentDist: Int, childDeltas: DataFrame): DataFrame = {
      val parents = lab.filter(col("dist") === parentDist)
        .select(col("seed"), col("node").as("u"), col("sigma").as("su"))
      val children = lab.filter(col("dist") === parentDist + 1)
        .join(childDeltas, Seq("seed", "node"), "left")
        .select(col("seed"), col("node").as("v"), col("sigma").as("sw"),
          coalesce(col("delta"), lit(0L)).as("dw"))
      parents.join(und, "u").join(children, Seq("seed", "v"))
        .withColumn("term",
          expr("(2 * su * (1000000 + dw) + sw) div (2 * sw)"))
        .groupBy(col("seed"), col("u").as("node"))
        .agg(sum(col("term")).as("delta"))
    }
    val d3 = lab.filter(col("dist") === 3)
      .select(col("seed"), col("node"), lit(0L).as("delta"))
    val d2 = layerDelta(2, d3).transform(iterCheckpoint)
    val d1 = layerDelta(1, d2)
    d1.unionByName(d2)
      .groupBy(col("node").as("doc_id"))
      .agg(count(lit(1)).as("n_seeds"), sum(col("delta")).as("bc_micro"))
      .orderBy(desc("bc_micro"), col("doc_id")).limit(15)
      .select(col("doc_id"), col("n_seeds"), col("bc_micro"),
        r6(col("bc_micro").cast("double") / lit(1e6)).as("betweenness"))
  }

  def graphClosenessSample(spark: SparkSession, dir: String): DataFrame = {
    val e = candGraphCached(spark, dir)
    val und = e.select(col("d1").as("u"), col("d2").as("v"))
      .unionByName(e.select(col("d2").as("u"), col("d1").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("degree"))
    val seeds = deg.orderBy(desc("degree"), col("u")).limit(3)
      .select(col("u").as("seed"))
    var labels = seeds
      .select(col("seed"), col("seed").as("doc_id"), lit(0L).as("dist"))
      .transform(iterCheckpoint)
    for (t <- 1 to 3) {
      val frontier = und
        .join(labels.filter(col("dist") === t - 1)
          .select(col("seed"), col("doc_id").as("u")), "u")
        .select(col("seed"), col("v").as("doc_id")).distinct()
        .join(labels, Seq("seed", "doc_id"), "left_anti")
        .select(col("seed"), col("doc_id"), lit(t.toLong).as("dist"))
      labels = labels.unionByName(frontier).transform(iterCheckpoint)
    }
    val nn = und.select("u").distinct().agg(count(lit(1)).as("n_nodes"))
    labels.filter(col("dist") > 0)
      .groupBy("seed")
      .agg(sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("dist") === 3, 1L).otherwise(0L)).as("n3"))
      .withColumn("harmonic_micro",
        col("n1") * lit(1000000L) + col("n2") * lit(500000L)
          + col("n3") * lit(333333L))
      .crossJoin(broadcast(nn))
      .withColumn("closeness",
        r6(col("harmonic_micro").cast("double") / lit(1e6)
          / (col("n_nodes") - 1).cast("double")))
      .select("seed", "n1", "n2", "n3", "harmonic_micro", "closeness")
      .orderBy("seed")
  }

  /** DEDUP CASCADE accounting — the marginal yield of each rung of the
    * production dedup ladder (the FineWeb/Dolma discipline: exact →
    * near-textual → semantic, cheapest first), measured on this corpus
    * as one table: per stage, how many docs entered, how many THIS stage
    * dropped that the cheaper stages missed, and the drop fraction. The
    * stages are the engine's own declared rungs, not re-derivations:
    * exact = `dedup_exact`'s min-id-per-content-hash; near =
    * the shared cached LSH candidate graph ([[candGraphCached]])
    * verified at token-Jaccard ≥ 0.5; semantic = SemDedup's capped
    * within-cluster cosine pairs ([[Vector.semPairFrame]], τ = 0.30).
    * Drop rule per stage: a doc is dropped when a verified pair links it
    * to a SMALLER doc_id that survived every earlier stage (keep-lowest,
    * non-recursive — the pair rule, not the CC rule, so each stage's
    * accounting is independent of drop order). Scale: stage 1 is one
    * content-hash agg; stage 2 rides the already-capped candidate graph;
    * stage 3 the already-capped cluster pairs — the audit adds only
    * doc-keyed semi/anti joins to rungs the engine already bounds. */
  def dedupCascadeAudit(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    // checkpointed: the content-hash survivor frame feeds THREE count
    // branches (its own count, the stage-2 drop join, the stage-3
    // survivor anti-join) — without the cut the corpus-wide md5 agg
    // re-runs per branch (measured 3.1 s serve → the checkpoint is the
    // doc_id-only frame, tiny at any scale)
    val s1 = iterCheckpoint(
      d.groupBy(md5(lower(trim(col("text"))).cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"))
    val base = d.select(col("doc_id"),
      array_sort(array_distinct(split(Text.normTextExpr, " "))).as("toks"))
    val verified = candGraphCached(spark, dir)
      .join(base.select(col("doc_id").as("d1"), col("toks").as("t1")), "d1")
      .join(base.select(col("doc_id").as("d2"), col("toks").as("t2")), "d2")
      .withColumn("inter", sortedInter(col("t1"), col("t2")))
      .withColumn("jac", col("inter").cast("double")
        / (size(col("t1")) + size(col("t2")) - col("inter")).cast("double"))
      .filter(col("jac") >= 0.5)
      .select("d1", "d2")
    val s2drop = iterCheckpoint(verified
      .join(s1.select(col("doc_id").as("d1")), "d1")
      .join(s1.select(col("doc_id").as("d2")), "d2")
      .select(col("d2").as("doc_id")).distinct())
    val s2 = s1.join(s2drop, Seq("doc_id"), "left_anti")
    val s3drop = Vector.semPairFrame(spark, dir).filter(col("cos") >= 0.30)
      .join(s2.select(col("doc_id").as("v1")), "v1")
      .join(s2.select(col("doc_id").as("v2")), "v2")
      .select(col("v2").as("doc_id")).distinct()
    def cnt(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
    cnt(d, "n0")
      .crossJoin(cnt(s1, "k1")).crossJoin(cnt(s2drop, "x2"))
      .crossJoin(cnt(s3drop, "x3"))
      .select(explode(array(
        struct(lit(1L).as("stage"), lit("exact").as("method"),
          col("n0").as("n_in"), (col("n0") - col("k1")).as("n_dropped")),
        struct(lit(2L).as("stage"), lit("near_minhash").as("method"),
          col("k1").as("n_in"), col("x2").as("n_dropped")),
        struct(lit(3L).as("stage"), lit("semantic").as("method"),
          (col("k1") - col("x2")).as("n_in"), col("x3").as("n_dropped"))))
        .as("r"))
      .select(col("r").getField("stage").as("stage"),
        col("r").getField("method").as("method"),
        col("r").getField("n_in").as("n_in"),
        col("r").getField("n_dropped").as("n_dropped"),
        (col("r").getField("n_in") - col("r").getField("n_dropped")).as("n_out"),
        r6(when(col("r").getField("n_in") > 0,
          col("r").getField("n_dropped").cast("double")
            / col("r").getField("n_in").cast("double"))
          .otherwise(lit(0.0))).as("drop_frac"))
      .orderBy("stage")
  }

  private val BbitK = 24 // 1-bit permutations; 3 bytes/doc of signature

  /** b-bit minhash calibration (Li & König, b = 1): keep only the LOW
    * BIT of each of [[BbitK]] minhash permutations — 24 bits ≈ 3 bytes
    * per document instead of 24×8-byte hashes, the storage regime that
    * makes billion-doc signature tables cheap — and audit what the
    * compression costs: for every LSH candidate pair, the bit-agreement
    * estimator Ĵ = max(2A−1, 0) (the b=1, sparse-set form) against the
    * exact token Jaccard, reported as calibration error per Jaccard
    * band. The literature's claim (tight for HIGH J, noisy for low J —
    * exactly the regime dedup thresholds live in) becomes a measured
    * table. Serve shape: signatures are one map pass (K×tokens hashes,
    * [[Util.boundCol]]-bound), pairs come from the SHARED cached
    * candidate graph ([[candGraphCached]]), verification joins are
    * doc-keyed hash joins — nothing quadratic, nothing uncapped. */
  def dedupMinhashBbit(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    // the K×tokens hash map is the query's real work, and a compact
    // corpus arrives as few scan splits (locally: ONE row group = one
    // task) — spread the doc rows before the signature pass (the
    // aggBootstrapCi lesson: a narrow n-row shuffle buys K·tokens·n
    // parallelism)
    val base = table(spark, dir, "documents")
      .select(col("doc_id"),
        array_sort(array_distinct(split(Text.normTextExpr, " "))).as("toks"))
      .repartition(spark.sparkContext.defaultParallelism)
    val sig = base.select(col("doc_id"), col("toks"),
      boundCol(col("toks")) { tk =>
        transform(sequence(lit(0), lit(BbitK - 1)), p =>
          (array_min(transform(tk, t =>
            conv(substring(md5(concat_ws("|", lit("bb"), p, t)
              .cast("binary")), 1, 15), 16, 10).cast("long"))) % 2L)
            .cast("int"))
      }.as("bits"))
    val pairs = candGraphCached(spark, dir)
      .join(sig.select(col("doc_id").as("d1"), col("toks").as("t1"),
        col("bits").as("b1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("toks").as("t2"),
        col("bits").as("b2")), "d2")
    val matches = aggregate(
      zip_with(col("b1"), col("b2"), (x, y) =>
        when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val scored = pairs
      // inter/(n1+n2-inter) == inter/|union| on distinct arrays
      .withColumn("bint", sortedInter(col("t1"), col("t2")))
      .select(
      (col("bint").cast("double") /
        (size(col("t1")) + size(col("t2")) - col("bint")).cast("double")).as("jac"),
      (matches.cast("double") / lit(BbitK.toDouble)).as("a"))
      .withColumn("est",
        greatest(lit(2.0) * col("a") - lit(1.0), lit(0.0)))
      .withColumn("bucket", floor(col("jac") * lit(5.0)) / lit(5.0))
    scored.groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        r4(sum(r6(col("est")).cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("mean_est"),
        r4(sum(r6(col("jac")).cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("mean_exact"),
        r4(sum(r6(abs(col("est") - col("jac"))).cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("mean_abs_err"))
      .orderBy("bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_bbit" -> (dedupMinhashBbit _),
    "graph_bfs_layers" -> (graphBfsLayers _),
    "graph_closeness_sample" -> (graphClosenessSample _),
    "graph_betweenness_sample" -> (graphBetweennessSample _),
    "dedup_cascade_audit" -> (dedupCascadeAudit _),
    "dedup_cdc_chunks" -> (dedupCdcChunks _),
    "graph_modularity" -> (graphModularity _),
    "graph_kcore" -> (graphKcore _),
    "graph_common_neighbors" -> (graphCommonNeighbors _),
    "graph_adamic_adar" -> (graphAdamicAdar _),
    "graph_assortativity" -> (graphAssortativity _),
    "graph_local_clustering" -> (graphLocalClustering _),
    "dedup_lsh_calibration" -> (dedupLshCalibration _),
    "graph_label_propagation" -> (graphLabelPropagation _),
    "dedup_chunk_minhash" -> (dedupChunkMinhash _),
    "dedup_cluster_sizes" -> (dedupClusterSizes _),
    "dedup_rate_report" -> (dedupRateReport _),
    "dedup_source_overlap" -> (dedupSourceOverlap _),
    "graph_degree_stats" -> (graphDegreeStats _),
    "dedup_pipeline_e2e" -> (pipelineE2e _),
    "dedup_minhash_global" -> (minhashGlobal _),
    "dedup_threshold_sweep" -> (thresholdSweep _),
    "dedup_incremental" -> (incremental _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_minhash_estimate" -> (minhashEstimate _),
    "dedup_minhash_shingle" -> (minhashShingle _),
    "dedup_simhash" -> (simhash _),
    "dedup_cc_groups" -> (ccGroups _),
    "dedup_cc_incremental" -> (ccIncremental _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_triangles" -> (graphTriangles _),
    "dedup_index_probe" -> (indexProbe _),
    "dedup_edit_distance" -> (editDistance _))

  private def minsSql(prefix: String) =
    (0 until K).map(i =>
      s"min(substr(md5('$prefix|' || token), ${1 + 5 * i}, 5)) AS m$i")
      .mkString(",\n             ")
  private val minhashMinsSql = minsSql("s")
  private val bandSelectsSql = (0 until Bands).map { b =>
    val cat = (0 until R).map(j => s"m${R * b + j}").mkString(" || ")
    s"SELECT doc_id, source, $b AS band, md5($cat) AS bsig FROM sig"
  }.mkString("\n           UNION ALL ")
  // band CTE with the identical per-bucket membership cap as
  // [[cappedBuckets]] (QUALIFY mirrors the Spark-side row_number window)
  private def bandCteSqlWithCap(cap: Int) =
    s"""band0 AS MATERIALIZED (
           $bandSelectsSql),
         band AS MATERIALIZED (
           SELECT doc_id, source, band, bsig FROM band0
           QUALIFY row_number() OVER (
             PARTITION BY source, band, bsig ORDER BY doc_id) <= $cap)"""
  private lazy val bandCteSql = bandCteSqlWithCap(LshBucketCap)
  // the CROSS-SOURCE variant: cap partitions on (band, bsig) only,
  // mirroring [[cappedBucketsBy]]'s global key
  private val bandCteGlobalSql =
    s"""band0 AS MATERIALIZED (
           $bandSelectsSql),
         band AS MATERIALIZED (
           SELECT doc_id, source, band, bsig FROM band0
           QUALIFY row_number() OVER (
             PARTITION BY band, bsig ORDER BY doc_id) <= $LshBucketCap)"""
  private val votesSql = (0 until 16).map(j =>
    s"sum(CASE WHEN substr(mh, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$j")
    .mkString(",\n             ")
  private val bitsSql = (0 until 16).map(j =>
    s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END").mkString("concat(", ", ", ")")

  // Replays incremental dedup end-to-end: the %7 standing/batch split,
  // the QUALIFY-capped standing buckets, both tiers. Deterministic
  // signatures ⇒ the persisted-index probe replays to the identical
  // result, so this ONE string gates dedup_incremental AND
  // dedup_index_probe (the pq/ivf index-twin discipline).
  private lazy val incrementalOracleSqlStr: String =
    s"""WITH dd AS (
           SELECT doc_id, source, text, md5(text) AS h,
             list_distinct(string_split(text, ' ')) AS toks
           FROM documents),
         tok AS MATERIALIZED (SELECT doc_id, source, unnest(toks) AS token FROM dd),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         band0 AS MATERIALIZED (
           $bandSelectsSql),
         sband AS MATERIALIZED (
           SELECT doc_id, band, bsig FROM band0 WHERE doc_id % 7 <> 0
           QUALIFY row_number() OVER (
             PARTITION BY band, bsig ORDER BY doc_id) <= $LshBucketCap),
         bband AS MATERIALIZED (
           SELECT doc_id, band, bsig FROM band0 WHERE doc_id % 7 = 0),
         sh AS (
           SELECT h, min(doc_id) AS exact_id FROM dd WHERE doc_id % 7 <> 0 GROUP BY h),
         cand AS MATERIALIZED (
           SELECT DISTINCT b.doc_id AS b_id, s.doc_id AS s_id
           FROM bband b JOIN sband s ON b.band = s.band AND b.bsig = s.bsig),
         sc AS (
           SELECT c.b_id, c.s_id,
             len(list_intersect(bb.toks, sb.toks)) AS inter,
             len(bb.toks) AS nb, len(sb.toks) AS ns
           FROM cand c JOIN dd bb ON bb.doc_id = c.b_id
                       JOIN dd sb ON sb.doc_id = c.s_id),
         j AS (
           SELECT b_id, s_id,
             CAST(inter AS DOUBLE) / CAST(nb + ns - inter AS DOUBLE) AS jac
           FROM sc),
         best AS (
           SELECT b_id, s_id AS near_id, jac AS bj FROM (
             SELECT *, row_number() OVER (PARTITION BY b_id ORDER BY jac DESC, s_id) AS rn
             FROM j)
           WHERE rn = 1)
         SELECT bb.doc_id, bb.source,
           CASE WHEN sh.exact_id IS NOT NULL THEN 'exact'
                WHEN best.bj >= 0.9 THEN 'near'
                ELSE 'unique' END AS status,
           CAST(CASE WHEN sh.exact_id IS NOT NULL THEN sh.exact_id
                WHEN best.bj >= 0.9 THEN best.near_id
                ELSE -1 END AS BIGINT) AS match_id,
           ${r6Sql("CASE WHEN sh.exact_id IS NOT NULL THEN 1.0 ELSE coalesce(best.bj, 0.0) END")} AS best_jac
         FROM dd bb
         LEFT JOIN sh ON bb.h = sh.h
         LEFT JOIN best ON best.b_id = bb.doc_id
         WHERE bb.doc_id % 7 = 0
         ORDER BY bb.doc_id"""

  // PageRank iteration CTEs — generated by the same loop count as the
  // Spark side (PrIters), each round replaying the identical r6-quantize
  // → exact-decimal-sum → damp → r6 arithmetic.
  private val prIterCtes = (1 to PrIters).map { k =>
    s"""p$k AS MATERIALIZED (
           SELECT e.dst AS doc_id,
             ${r6Sql("0.15 / (SELECT n FROM nn) + 0.85 * CAST(sum(CAST(" +
               r6Sql("p.r / d.deg") + " AS DECIMAL(28,6))) AS DOUBLE)")} AS r
           FROM e
           JOIN p${k - 1} p ON p.doc_id = e.src
           JOIN deg d ON d.src = e.src
           GROUP BY e.dst)"""
  }.mkString(",\n         ")

  // Shared oracle preamble for the graph family: normalized text
  // (Text.normTextExpr's regex+stopword spelling), distinct tokens,
  // minhash signatures, and the globally-capped band buckets.
  private lazy val graphBandPreambleSql =
    s"""nd AS MATERIALIZED (
           SELECT doc_id, source,
             array_to_string(list_filter(
               string_split_regex(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +'),
               t -> t NOT IN ('join','filter','sort','merge','window')), ' ') AS ntext
           FROM documents),
         tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_distinct(string_split(ntext, ' '))) AS token
           FROM nd),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         $bandCteGlobalSql"""

  private val lpaIterCtes = (1 to 4).map { k =>
    s"""lp$k AS MATERIALIZED (
           SELECT e2.src AS v, l.l AS nl, count(*) AS c
           FROM e2 JOIN l${k - 1} l ON l.v = e2.dst GROUP BY 1, 2),
         l$k AS MATERIALIZED (
           SELECT v, nl AS l FROM lp$k
           QUALIFY row_number() OVER (PARTITION BY v ORDER BY c DESC, nl) = 1)"""
  }.mkString(",\n         ")

  // fixed-round 2-core peel, rounds 1..4: degrees over the doubled edge
  // list, keep deg>=2, restrict edges to kept nodes — CTE-for-CTE the
  // engine's loop body
  private val kcoreIterCtes = (1 to 4).map { r =>
    s"""deg$r AS (SELECT u, count(*) AS deg FROM (
             SELECT d1 AS u FROM e${r - 1} UNION ALL SELECT d2 FROM e${r - 1})
           GROUP BY u),
         k$r AS (SELECT u FROM deg$r WHERE deg >= 2),
         e$r AS MATERIALIZED (
           SELECT d1, d2 FROM e${r - 1}
           WHERE d1 IN (SELECT u FROM k$r) AND d2 IN (SELECT u FROM k$r)),
         s$r AS (SELECT CAST($r AS BIGINT) AS round,
           (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM (
              SELECT d1 AS u FROM e$r UNION ALL SELECT d2 FROM e$r)) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges)"""
  }.mkString(",\n         ")

  /** Generated b-bit oracle: the 24 per-permutation min aggregates and
    * the bit-agreement sum are emitted from the same index range the
    * engine's `sequence(0, 23)` iterates. */
  private lazy val bbitOracleSql: String = {
    val mins = (0 until BbitK).map(p =>
      s"CAST(min(CAST(('0x' || substr(md5('bb|' || CAST($p AS VARCHAR) || '|' || token), 1, 15)) AS BIGINT)) % 2 AS INTEGER) AS bit_$p")
      .mkString(",\n             ")
    val agree = (0 until BbitK).map(p =>
      s"CASE WHEN s1.bit_$p = s2.bit_$p THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         ts AS MATERIALIZED (
           SELECT doc_id, list_distinct(string_split(ntext, ' ')) AS toks
           FROM nd),
         bs AS MATERIALIZED (
           SELECT doc_id,
             $mins
           FROM tok GROUP BY doc_id),
         sc AS (SELECT
             CAST(len(list_intersect(t1.toks, t2.toks)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(t1.toks, t2.toks)))
                 AS DOUBLE) AS jac,
             CAST($agree AS DOUBLE) / ${BbitK}.0 AS a
           FROM pairs p
           JOIN ts t1 ON p.d1 = t1.doc_id
           JOIN ts t2 ON p.d2 = t2.doc_id
           JOIN bs s1 ON p.d1 = s1.doc_id
           JOIN bs s2 ON p.d2 = s2.doc_id),
         sc2 AS (SELECT jac, greatest(2.0 * a - 1.0, 0.0) AS est,
           floor(jac * 5.0) / 5.0 AS bucket FROM sc)
         SELECT bucket, count(*) AS n_pairs,
           ${r4Sql("CAST(sum(CAST(" + r6Sql("est") + " AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS mean_est,
           ${r4Sql("CAST(sum(CAST(" + r6Sql("jac") + " AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS mean_exact,
           ${r4Sql("CAST(sum(CAST(" + r6Sql("abs(est - jac)") + " AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS mean_abs_err
         FROM sc2 GROUP BY bucket ORDER BY bucket"""
  }

  val oracleSql: Map[String, String] = Map(
    "dedup_minhash_bbit" -> bbitOracleSql,
    "dedup_cascade_audit" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         s1 AS MATERIALIZED (
           SELECT min(doc_id) AS doc_id FROM documents
           GROUP BY md5(lower(trim(text)))),
         tk AS (SELECT doc_id, list_distinct(string_split(ntext, ' ')) AS toks
           FROM nd),
         ver AS (SELECT p.d1, p.d2
           FROM pairs p
           JOIN tk t1 ON t1.doc_id = p.d1
           JOIN tk t2 ON t2.doc_id = p.d2
           WHERE CAST(len(list_intersect(t1.toks, t2.toks)) AS DOUBLE)
               / CAST(len(t1.toks) + len(t2.toks)
                   - len(list_intersect(t1.toks, t2.toks)) AS DOUBLE) >= 0.5),
         x2 AS (SELECT DISTINCT v.d2 AS doc_id FROM ver v
           WHERE v.d1 IN (SELECT doc_id FROM s1)
             AND v.d2 IN (SELECT doc_id FROM s1)),
         s2 AS (SELECT doc_id FROM s1
           WHERE doc_id NOT IN (SELECT doc_id FROM x2)),
         ${Vector.semPairCtesSql},
         sd AS (SELECT DISTINCT p.v2 AS doc_id FROM p
           WHERE p.cos >= 0.30
             AND p.v1 IN (SELECT doc_id FROM s2)
             AND p.v2 IN (SELECT doc_id FROM s2)),
         sel AS (SELECT
             (SELECT count(*) FROM documents) AS n0,
             (SELECT count(*) FROM s1) AS k1,
             (SELECT count(*) FROM x2) AS x2n,
             (SELECT count(*) FROM sd) AS x3n)
         SELECT stage, method, n_in, n_dropped, n_in - n_dropped AS n_out,
           ${r6Sql("""CASE WHEN n_in > 0
             THEN CAST(n_dropped AS DOUBLE) / CAST(n_in AS DOUBLE)
             ELSE 0.0 END""")} AS drop_frac
         FROM (
           SELECT CAST(1 AS BIGINT) AS stage, 'exact' AS method,
             n0 AS n_in, n0 - k1 AS n_dropped FROM sel
           UNION ALL SELECT 2, 'near_minhash', k1, x2n FROM sel
           UNION ALL SELECT 3, 'semantic', k1 - x2n, x3n FROM sel) u
         ORDER BY stage""",
    "graph_betweenness_sample" -> {
      // forward rounds carry σ (sum over predecessors); the backward
      // pass replays the engine's integer-micro dependency terms
      val rounds = (1 to 3).map { t =>
        s"""f$t AS (SELECT l.seed, und.v AS node,
           CAST(sum(l.sigma) AS BIGINT) AS sigma
           FROM und JOIN s${t - 1} l
             ON und.u = l.node AND l.dist = ${t - 1}
           WHERE NOT EXISTS (SELECT 1 FROM s${t - 1} x
             WHERE x.seed = l.seed AND x.node = und.v)
           GROUP BY 1, 2),
         s$t AS MATERIALIZED (SELECT seed, node, dist, sigma FROM s${t - 1}
           UNION ALL SELECT seed, node, $t, sigma FROM f$t)"""
      }.mkString(",\n         ")
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         und AS (SELECT d1 AS u, d2 AS v FROM pairs
           UNION ALL SELECT d2 AS u, d1 AS v FROM pairs),
         deg AS (SELECT u, count(*) AS degree FROM und GROUP BY u),
         sd AS (SELECT u AS seed FROM deg ORDER BY degree DESC, u LIMIT 3),
         s0 AS (SELECT seed, seed AS node, 0 AS dist,
           CAST(1 AS BIGINT) AS sigma FROM sd),
         $rounds,
         d2 AS (SELECT p.seed, p.node,
             CAST(sum((2 * p.sigma * (1000000 + 0) + c.sigma)
               // (2 * c.sigma)) AS BIGINT) AS delta
           FROM s3 p JOIN und ON und.u = p.node
           JOIN s3 c ON c.seed = p.seed AND c.node = und.v AND c.dist = 3
           WHERE p.dist = 2 GROUP BY 1, 2),
         d1 AS (SELECT p.seed, p.node,
             CAST(sum((2 * p.sigma * (1000000 + coalesce(dd.delta, 0))
               + c.sigma) // (2 * c.sigma)) AS BIGINT) AS delta
           FROM s3 p JOIN und ON und.u = p.node
           JOIN s3 c ON c.seed = p.seed AND c.node = und.v AND c.dist = 2
           LEFT JOIN d2 dd ON dd.seed = c.seed AND dd.node = c.node
           WHERE p.dist = 1 GROUP BY 1, 2),
         bc AS (SELECT node AS doc_id,
             CAST(count(*) AS BIGINT) AS n_seeds,
             CAST(sum(delta) AS BIGINT) AS bc_micro
           FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
           GROUP BY 1)
         SELECT doc_id, n_seeds, bc_micro,
           ${r6Sql("CAST(bc_micro AS DOUBLE) / 1e6")} AS betweenness
         FROM bc ORDER BY bc_micro DESC, doc_id LIMIT 15"""
    },
    "graph_closeness_sample" -> {
      // per-round frontier CTEs carrying the seed key, the l0..l3
      // unrolling of the engine's (seed, doc_id)-keyed BFS loop
      val rounds = (1 to 3).map { t =>
        s"""f$t AS (SELECT DISTINCT l.seed, und.v AS doc_id
           FROM und JOIN l${t - 1} l
             ON und.u = l.doc_id AND l.dist = ${t - 1}
           WHERE NOT EXISTS (SELECT 1 FROM l${t - 1} x
             WHERE x.seed = l.seed AND x.doc_id = und.v)),
         l$t AS MATERIALIZED (SELECT seed, doc_id, dist FROM l${t - 1}
           UNION ALL SELECT seed, doc_id, $t FROM f$t)"""
      }.mkString(",\n         ")
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         und AS (SELECT d1 AS u, d2 AS v FROM pairs
           UNION ALL SELECT d2 AS u, d1 AS v FROM pairs),
         deg AS (SELECT u, count(*) AS degree FROM und GROUP BY u),
         sd AS (SELECT u AS seed FROM deg ORDER BY degree DESC, u LIMIT 3),
         l0 AS (SELECT seed, seed AS doc_id, 0 AS dist FROM sd),
         $rounds,
         nn AS (SELECT count(DISTINCT u) AS n_nodes FROM und),
         agg AS (SELECT seed,
             CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
           FROM l3 WHERE dist > 0 GROUP BY seed)
         SELECT seed, n1, n2, n3,
           n1 * 1000000 + n2 * 500000 + n3 * 333333 AS harmonic_micro,
           ${r6Sql("""CAST(n1 * 1000000 + n2 * 500000 + n3 * 333333
             AS DOUBLE) / 1e6 / CAST(n_nodes - 1 AS DOUBLE)""")} AS closeness
         FROM agg, nn ORDER BY seed"""
    },
    "graph_bfs_layers" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         und AS (SELECT d1 AS u, d2 AS v FROM pairs
           UNION ALL SELECT d2 AS u, d1 AS v FROM pairs),
         deg AS (SELECT u, count(*) AS degree FROM und GROUP BY u),
         l0 AS (SELECT u AS doc_id, 0 AS dist FROM deg
           ORDER BY degree DESC, u LIMIT 3),
         f1 AS (SELECT DISTINCT und.v AS doc_id FROM und
           JOIN l0 ON und.u = l0.doc_id
           WHERE und.v NOT IN (SELECT doc_id FROM l0)),
         l1 AS (SELECT doc_id, dist FROM l0
           UNION ALL SELECT doc_id, 1 FROM f1),
         f2 AS (SELECT DISTINCT und.v AS doc_id FROM und
           JOIN l1 ON und.u = l1.doc_id AND l1.dist = 1
           WHERE und.v NOT IN (SELECT doc_id FROM l1)),
         l2 AS (SELECT doc_id, dist FROM l1
           UNION ALL SELECT doc_id, 2 FROM f2),
         f3 AS (SELECT DISTINCT und.v AS doc_id FROM und
           JOIN l2 ON und.u = l2.doc_id AND l2.dist = 2
           WHERE und.v NOT IN (SELECT doc_id FROM l2)),
         l3 AS (SELECT doc_id, dist FROM l2
           UNION ALL SELECT doc_id, 3 FROM f3),
         allv AS (SELECT doc_id, dist FROM l3
           UNION ALL
           SELECT u AS doc_id, -1 AS dist FROM (SELECT DISTINCT u FROM und)
           WHERE u NOT IN (SELECT doc_id FROM l3))
         SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM allv GROUP BY dist ORDER BY dist""",
    "dedup_cdc_chunks" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         t AS (SELECT doc_id, toks, list_transform(toks,
             tk -> CAST(('0x' || substr(md5(tk), 1, 7)) AS BIGINT)) AS th
           FROM d),
         b AS (SELECT doc_id, toks, len(toks) AS n,
           list_filter(range(4, len(toks) + 1), i ->
             (th[i-3] * 29791 + th[i-2] * 961 + th[i-1] * 31 + th[i])
               % 16 = 0) AS bp
           FROM t),
         c AS (SELECT doc_id, toks,
           list_zip(list_concat([1], list_transform(bp, x -> x + 1)),
             list_concat(bp, [n])) AS rngs
           FROM b),
         e AS (SELECT doc_id, toks, unnest(rngs) AS rng FROM c),
         f AS (SELECT doc_id,
             md5(array_to_string(toks[rng[1]:rng[2]], ' ')) AS chunk_hash,
             rng[2] - rng[1] + 1 AS tl
           FROM e WHERE rng[1] <= rng[2])
         SELECT chunk_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occur,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc,
           CAST(max(tl) AS BIGINT) AS token_len
         FROM f WHERE tl >= 5
         GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
         ORDER BY n_docs DESC, n_occur DESC, chunk_hash LIMIT 20""",
    "graph_modularity" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pairs
               UNION ALL SELECT d2, d1 FROM pairs),
         nodes AS (SELECT DISTINCT src FROM e),
         e2 AS MATERIALIZED (SELECT src, dst FROM e
               UNION ALL SELECT src, src FROM nodes),
         l0 AS (SELECT src AS v, src AS l FROM nodes),
         $lpaIterCtes,
         m AS (SELECT count(*) AS m FROM pairs),
         deg AS (SELECT src AS u, count(*) AS deg FROM e GROUP BY src),
         lc AS (SELECT a.l AS c, count(*) AS lc
           FROM pairs p JOIN l4 a ON a.v = p.d1 JOIN l4 b ON b.v = p.d2
           WHERE a.l = b.l GROUP BY a.l),
         dc AS (SELECT l4.l AS c, sum(deg.deg) AS dc
           FROM deg JOIN l4 ON l4.v = deg.u GROUP BY l4.l),
         terms AS (SELECT
           sum(CAST(${r6Sql("CAST(coalesce(lc.lc, 0) AS DOUBLE) / CAST(m.m AS DOUBLE) - (CAST(dc.dc AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))) * (CAST(dc.dc AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))")} AS DECIMAL(16,6))) AS q,
           count(*) AS n_communities
           FROM dc LEFT JOIN lc USING (c), m),
         sizes AS (SELECT max(sz) AS max_sz, CAST(sum(sz) AS BIGINT) AS n_nodes
           FROM (SELECT l, count(*) AS sz FROM l4 GROUP BY l))
         SELECT sizes.n_nodes, m.m AS n_edges, terms.n_communities,
           CAST(terms.q AS DOUBLE) AS q_modularity,
           ${r6Sql("CAST(sizes.max_sz AS DOUBLE) / CAST(sizes.n_nodes AS DOUBLE)")} AS top_community_share
         FROM m, terms, sizes""",
    "graph_kcore" ->
      s"""WITH $graphBandPreambleSql,
         e0 AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         $kcoreIterCtes
         SELECT * FROM s1 UNION ALL SELECT * FROM s2
         UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
         ORDER BY round""",
    "graph_common_neighbors" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         e AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM pairs
           UNION ALL SELECT d2, d1 FROM pairs),
         deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
         cn AS (SELECT x.u AS a, y.u AS b, count(*) AS n_common
           FROM e x JOIN e y ON x.v = y.v AND x.u < y.u
           GROUP BY 1, 2)
         SELECT cn.a, cn.b, CAST(cn.n_common AS BIGINT) AS n_common,
           ${r6Sql("CAST(cn.n_common AS DOUBLE) / CAST(da.deg + db.deg - cn.n_common AS DOUBLE)")} AS nbr_jaccard,
           coalesce(p.is_edge, FALSE) AS is_edge
         FROM cn
         JOIN deg da ON da.u = cn.a
         JOIN deg db ON db.u = cn.b
         LEFT JOIN (SELECT d1, d2, TRUE AS is_edge FROM pairs) p
           ON p.d1 = cn.a AND p.d2 = cn.b
         ORDER BY n_common DESC, cn.a, cn.b LIMIT 20""",
    "graph_adamic_adar" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         e AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM pairs
           UNION ALL SELECT d2, d1 FROM pairs),
         lut AS (SELECT * FROM (VALUES $aaMicrosValuesSql) t(degk, awu)),
         wt AS (SELECT d.u AS w, l.awu
           FROM (SELECT u, least(greatest(count(*), 2), $AaMaxDeg) AS degk
             FROM e GROUP BY u) d
           JOIN lut l ON l.degk = d.degk),
         cn AS (SELECT x.u AS a, y.u AS b, count(*) AS n_common,
           CAST(sum(awu) AS BIGINT) AS aau
           FROM e x JOIN e y ON x.v = y.v AND x.u < y.u
           JOIN wt ON wt.w = x.v
           GROUP BY 1, 2)
         SELECT cn.a, cn.b, CAST(cn.n_common AS BIGINT) AS n_common,
           CAST(cn.aau AS DOUBLE) / 1000000.0 AS aa_score,
           coalesce(p.is_edge, FALSE) AS is_edge
         FROM cn
         LEFT JOIN (SELECT d1, d2, TRUE AS is_edge FROM pairs) p
           ON p.d1 = cn.a AND p.d2 = cn.b
         ORDER BY aa_score DESC, cn.a, cn.b LIMIT 20""",
    "graph_local_clustering" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         e AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM pairs
           UNION ALL SELECT d2, d1 FROM pairs),
         deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
         wcl AS (SELECT x.v AS ctr, count(*) AS n_wedges,
           CAST(sum(CASE WHEN p.d1 IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_closed
           FROM e x JOIN e y ON x.v = y.v AND x.u < y.u
           LEFT JOIN pairs p ON p.d1 = x.u AND p.d2 = y.u
           GROUP BY 1)
         SELECT wcl.ctr AS doc_id, CAST(deg.deg AS BIGINT) AS deg,
           CAST(wcl.n_wedges AS BIGINT) AS n_wedges, wcl.n_closed AS n_triangles,
           ${r6Sql("CAST(wcl.n_closed AS DOUBLE) / CAST(wcl.n_wedges AS DOUBLE)")}
             AS lcc
         FROM wcl JOIN deg ON deg.u = wcl.ctr
         ORDER BY lcc DESC, deg DESC, doc_id LIMIT 20""",
    "graph_assortativity" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         e AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM pairs
           UNION ALL SELECT d2, d1 FROM pairs),
         deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
         nodes AS (SELECT count(*) AS n_nodes,
           CAST(sum(deg) AS BIGINT) AS sum_deg FROM deg),
         j AS (SELECT CAST(du.deg AS DECIMAL(18,0)) AS du,
             CAST(dv.deg AS DECIMAL(18,0)) AS dv
           FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v),
         s AS (SELECT count(*) AS m,
           CAST(sum(du) AS DOUBLE) AS sdu, CAST(sum(dv) AS DOUBLE) AS sdv,
           CAST(sum(du * dv) AS DOUBLE) AS sduv,
           CAST(sum(du * du) AS DOUBLE) AS sduu,
           CAST(sum(dv * dv) AS DOUBLE) AS sdvv
           FROM j),
         f AS (SELECT m,
           CAST(m AS DOUBLE) * sduv - sdu * sdv AS cov,
           CAST(m AS DOUBLE) * sduu - sdu * sdu AS vu,
           CAST(m AS DOUBLE) * sdvv - sdv * sdv AS vv FROM s)
         SELECT n_nodes, CAST(m / 2 AS BIGINT) AS n_edges,
           ${r4Sql("CAST(sum_deg AS DOUBLE) / CAST(n_nodes AS DOUBLE)")}
             AS mean_deg,
           ${r6Sql("CASE WHEN vu > 0 AND vv > 0 THEN cov / (sqrt(vu) * sqrt(vv)) END")}
             AS assortativity
         FROM f, nodes""",
    "dedup_lsh_calibration" ->
      s"""WITH tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS token
           FROM documents),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         $bandCteSql,
         cand AS MATERIALIZED (
           SELECT DISTINCT a.source, a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.source = b.source AND a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id),
         cnt AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
         inter AS (
           SELECT c.d1, c.d2, count(tb.token) AS inter
           FROM cand c
           JOIN tok ta ON ta.doc_id = c.d1
           LEFT JOIN tok tb ON tb.doc_id = c.d2 AND ta.token = tb.token
           GROUP BY 1, 2),
         j AS (
           SELECT CAST(i.inter AS DOUBLE)
             / CAST(c1.ntok + c2.ntok - i.inter AS DOUBLE) AS jac
           FROM inter i JOIN cnt c1 ON i.d1 = c1.doc_id
             JOIN cnt c2 ON i.d2 = c2.doc_id),
         b AS (SELECT least(9, CAST(floor(jac * 10) AS BIGINT)) AS bucket,
           count(*) AS n_obs,
           ${r6Sql("CAST(sum(CAST(" + r6Sql("jac") + " AS DECIMAL(16,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS mean_jac
           FROM j GROUP BY 1),
         c AS (SELECT bucket, n_obs, mean_jac,
           ${r6Sql("1.0 - (1.0 - mean_jac * mean_jac * mean_jac) * (1.0 - mean_jac * mean_jac * mean_jac)")} AS p_b2r3,
           ${r6Sql("1.0 - (1.0 - mean_jac * mean_jac) * (1.0 - mean_jac * mean_jac) * (1.0 - mean_jac * mean_jac)")} AS p_b3r2,
           ${r6Sql("1.0 - (1.0 - mean_jac) * (1.0 - mean_jac) * (1.0 - mean_jac) * (1.0 - mean_jac) * (1.0 - mean_jac) * (1.0 - mean_jac)")} AS p_b6r1
           FROM b)
         SELECT bucket, n_obs, mean_jac, p_b2r3, p_b3r2, p_b6r1,
           CASE WHEN p_b2r3 > 0
             THEN ${r4Sql("CAST(n_obs AS DOUBLE) / p_b2r3")} END AS est_true_pairs
         FROM c ORDER BY bucket""",
    "graph_label_propagation" ->
      s"""WITH $graphBandPreambleSql,
         broot AS MATERIALIZED (
           SELECT band, bsig, min(doc_id) AS mn
           FROM band GROUP BY band, bsig),
         star AS MATERIALIZED (
           SELECT DISTINCT b.doc_id AS d1, br.mn AS d2
           FROM band b JOIN broot br
             ON b.band = br.band AND b.bsig = br.bsig
           WHERE b.doc_id <> br.mn),
         e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM star
               UNION SELECT d2, d1 FROM star),
         nodes AS (SELECT DISTINCT src FROM e),
         e2 AS MATERIALIZED (SELECT src, dst FROM e
               UNION ALL SELECT src, src FROM nodes),
         l0 AS (SELECT src AS v, src AS l FROM nodes),
         $lpaIterCtes
         SELECT l AS community, count(*) AS n_members
         FROM l4 GROUP BY l
         ORDER BY n_members DESC, community LIMIT 20""",
    "dedup_chunk_minhash" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS dtoks FROM documents),
         ch AS MATERIALIZED (
           SELECT doc_id * 1000000 + ci AS doc_id, 'all' AS source,
             list_distinct(dtoks[(ci * 6 + 1):(ci * 6 + 8)]) AS ctoks
           FROM (SELECT doc_id, dtoks,
             unnest(range(0, CAST(1 + CASE WHEN len(dtoks) > 8
               THEN floor((len(dtoks) - 3) / 6.0) ELSE 0 END AS BIGINT))) AS ci
             FROM d)),
         tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(ctoks) AS token FROM ch),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         ${bandCteSqlWithCap(ChunkBucketCap)},
         cand AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.source = b.source AND a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id),
         j AS (SELECT c.d1, c.d2,
             len(list_intersect(x.ctoks, y.ctoks)) AS inter,
             len(x.ctoks) AS n1, len(y.ctoks) AS n2
           FROM cand c JOIN ch x ON x.doc_id = c.d1
             JOIN ch y ON y.doc_id = c.d2),
         p AS (SELECT least(d1 // 1000000, d2 // 1000000) AS doc_a,
             greatest(d1 // 1000000, d2 // 1000000) AS doc_b,
             CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) AS jac
           FROM j WHERE d1 // 1000000 != d2 // 1000000)
         SELECT doc_a, doc_b, count(*) AS n_chunk_pairs,
           CAST(sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_near
         FROM p GROUP BY 1, 2
         HAVING sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) >= 1
         ORDER BY n_near DESC, n_chunk_pairs DESC, doc_a, doc_b LIMIT 20""",
    "dedup_cluster_sizes" ->
      s"""WITH g AS (SELECT md5(text) AS h, count(*) AS sz
           FROM documents GROUP BY 1),
         s AS (SELECT sz, count(*) AS n_groups, sz * count(*) AS n_docs
           FROM g GROUP BY sz),
         w AS (SELECT *, sum(n_docs) OVER () AS tot,
           sum(CASE WHEN sz >= 2 THEN n_docs ELSE 0 END) OVER () AS dup_docs
           FROM s)
         SELECT sz, n_groups, CAST(n_docs AS BIGINT) AS n_docs,
           ${r6Sql("CAST(dup_docs AS DOUBLE) / CAST(tot AS DOUBLE)")} AS dup_doc_share
         FROM w ORDER BY sz""",
    "dedup_rate_report" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         x AS (SELECT count(*) AS ne,
           sum(CASE WHEN m1.source <> m2.source THEN 1 ELSE 0 END) AS nx
           FROM pairs
           JOIN (SELECT doc_id, source FROM documents) m1 ON m1.doc_id = pairs.d1
           JOIN (SELECT doc_id, source FROM documents) m2 ON m2.doc_id = pairs.d2),
         ip AS (SELECT count(*) AS np FROM (
           SELECT d1 AS doc_id FROM pairs UNION SELECT d2 FROM pairs)),
         base AS (SELECT count(*) AS n_docs,
           count(DISTINCT md5(text)) AS ndist FROM documents)
         SELECT n_docs, CAST(n_docs - ndist AS BIGINT) AS n_exact_dup,
           ne AS n_candidate_pairs, np AS n_docs_in_pairs,
           CAST(nx AS BIGINT) AS n_cross_source_pairs,
           ${r6Sql("CAST(n_docs - ndist AS DOUBLE) / CAST(n_docs AS DOUBLE)")} AS exact_rate,
           ${r6Sql("CAST(np AS DOUBLE) / CAST(n_docs AS DOUBLE)")} AS near_rate
         FROM base, x, ip""",
    "dedup_source_overlap" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         tagged AS (
           SELECT least(m1.source, m2.source) AS s1,
             greatest(m1.source, m2.source) AS s2
           FROM pairs
           JOIN (SELECT doc_id, source FROM documents) m1 ON m1.doc_id = pairs.d1
           JOIN (SELECT doc_id, source FROM documents) m2 ON m2.doc_id = pairs.d2)
         SELECT s1, s2, count(*) AS n_pairs
         FROM tagged GROUP BY s1, s2 ORDER BY s1, s2""",
    "graph_degree_stats" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         und AS (SELECT d1 AS u, d2 AS v FROM pairs
           UNION ALL SELECT d2 AS u, d1 AS v FROM pairs),
         deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
         nbr AS (SELECT und.u, sum(dv.deg) AS sdeg, count(*) AS k
           FROM und JOIN (SELECT u AS v, deg FROM deg) dv USING (v)
           GROUP BY und.u),
         j AS (SELECT deg.deg, nbr.sdeg, nbr.k FROM deg JOIN nbr USING (u))
         SELECT deg, count(*) AS n_nodes,
           ${r6Sql("CAST(sum(sdeg) AS DOUBLE) / CAST(sum(k) AS DOUBLE)")} AS avg_nbr_deg
         FROM j GROUP BY deg ORDER BY deg""",
    "graph_triangles" ->
      s"""WITH $graphBandPreambleSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         tri AS MATERIALIZED (
           SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
           FROM pairs ab
           JOIN pairs bc ON bc.d1 = ab.d2
           JOIN pairs ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2),
         tn AS (
           SELECT doc_id, count(*) AS n_tri FROM (
             SELECT unnest([a, b, c]) AS doc_id FROM tri)
           GROUP BY doc_id),
         deg AS (
           SELECT doc_id, count(*) AS degree FROM (
             SELECT d1 AS doc_id FROM pairs
             UNION ALL SELECT d2 AS doc_id FROM pairs)
           GROUP BY doc_id)
         SELECT deg.doc_id,
           CAST(deg.degree AS BIGINT) AS degree,
           CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri,
           ${r6Sql("CASE WHEN deg.degree >= 2 THEN CAST(coalesce(tn.n_tri, 0) AS DOUBLE) * 2.0 / (CAST(deg.degree AS DOUBLE) * (CAST(deg.degree AS DOUBLE) - 1.0)) ELSE 0.0 END")} AS clust_coef
         FROM deg LEFT JOIN tn ON tn.doc_id = deg.doc_id
         ORDER BY n_tri DESC, degree DESC, deg.doc_id LIMIT 20""",
    "graph_pagerank" ->
      s"""WITH $graphBandPreambleSql,
         broot AS MATERIALIZED (
           SELECT band, bsig, min(doc_id) AS mn
           FROM band GROUP BY band, bsig),
         star AS MATERIALIZED (
           SELECT DISTINCT b.doc_id AS d1, br.mn AS d2
           FROM band b JOIN broot br
             ON b.band = br.band AND b.bsig = br.bsig
           WHERE b.doc_id <> br.mn),
         e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM star
               UNION SELECT d2, d1 FROM star),
         deg AS MATERIALIZED (
           SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
         nodes AS (SELECT DISTINCT src AS doc_id FROM e),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         p0 AS MATERIALIZED (
           SELECT doc_id, ${r6Sql("1.0 / (SELECT n FROM nn)")} AS r FROM nodes),
         $prIterCtes
         SELECT p.doc_id, CAST(d.deg AS BIGINT) AS degree, p.r AS pr
         FROM p$PrIters p JOIN deg d ON d.src = p.doc_id
         ORDER BY pr DESC, doc_id LIMIT 20""",
    "dedup_pipeline_e2e" ->
      s"""WITH RECURSIVE nd AS MATERIALIZED (
           SELECT doc_id, source,
             array_to_string(list_filter(
               string_split_regex(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +'),
               t -> t NOT IN ('join','filter','sort','merge','window')), ' ') AS ntext
           FROM documents),
         tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_distinct(string_split(ntext, ' '))) AS token
           FROM nd),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         $bandCteSql,
         broot AS MATERIALIZED (
           SELECT source, band, bsig, min(doc_id) AS mn
           FROM band GROUP BY source, band, bsig),
         star AS MATERIALIZED (
           SELECT DISTINCT b.doc_id AS d1, br.mn AS d2
           FROM band b JOIN broot br
             ON b.source = br.source AND b.band = br.band AND b.bsig = br.bsig
           WHERE b.doc_id <> br.mn),
         e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM star
               UNION SELECT d2, d1 FROM star),
         reach AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         rt AS (
           SELECT src AS doc_id, least(src, min(dst)) AS root
           FROM reach GROUP BY src),
         dq AS (
           SELECT doc_id, source,
             0.6 * (CAST(len(list_filter(string_split(text, ' '),
                 t -> t IN ('join','filter','sort','merge','window'))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE))
             + 0.4 * least((CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0, 1.0) AS q
           FROM documents),
         withroot AS MATERIALIZED (
           SELECT dq.doc_id, dq.source, dq.q, coalesce(rt.root, dq.doc_id) AS root
           FROM dq LEFT JOIN rt ON dq.doc_id = rt.doc_id),
         rk AS (
           SELECT source, root, doc_id,
             row_number() OVER (PARTITION BY source, root ORDER BY q DESC, doc_id) AS rn
           FROM withroot),
         cl AS (
           SELECT source, root,
             min(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
             count(*) AS csize
           FROM rk GROUP BY source, root)
         SELECT source,
           CAST(sum(csize) AS BIGINT) AS n_docs,
           count(*) AS n_kept,
           CAST(sum(csize) - count(*) AS BIGINT) AS n_dropped,
           md5(array_to_string(list_sort(list(keep_id)), ',')) AS survivors_md5
         FROM cl GROUP BY source ORDER BY source""",
    // Replays the SAME global capped band CTE as dedup_minhash_global,
    // generating the per-bucket clique pairs and verifying each with
    // exact token-set Jaccard (one double division of exact set sizes).
    "dedup_threshold_sweep" ->
      s"""WITH nd AS MATERIALIZED (
           SELECT doc_id, source,
             array_to_string(list_filter(
               string_split_regex(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +'),
               t -> t NOT IN ('join','filter','sort','merge','window')), ' ') AS ntext
           FROM documents),
         tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_distinct(string_split(ntext, ' '))) AS token
           FROM nd),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         $bandCteGlobalSql,
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         ts AS MATERIALIZED (
           SELECT doc_id, list_distinct(string_split(ntext, ' ')) AS toks FROM nd),
         j AS (
           SELECT CAST(len(list_intersect(t1.toks, t2.toks)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(t1.toks, t2.toks))) AS DOUBLE) AS jac
           FROM pairs p
           JOIN ts t1 ON p.d1 = t1.doc_id
           JOIN ts t2 ON p.d2 = t2.doc_id)
         SELECT count(*) AS n_pairs,
           CAST(sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_07,
           CAST(sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_08,
           CAST(sum(CASE WHEN jac >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_09,
           floor((CAST(sum(CAST(floor(jac * 1000000.0 + 0.5) / 1000000.0
               AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS avg_jac
         FROM j""",
    "dedup_minhash_global" ->
      s"""WITH RECURSIVE nd AS MATERIALIZED (
           SELECT doc_id, source,
             array_to_string(list_filter(
               string_split_regex(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +'),
               t -> t NOT IN ('join','filter','sort','merge','window')), ' ') AS ntext
           FROM documents),
         tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_distinct(string_split(ntext, ' '))) AS token
           FROM nd),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         $bandCteGlobalSql,
         broot AS MATERIALIZED (
           SELECT band, bsig, min(doc_id) AS mn
           FROM band GROUP BY band, bsig),
         star AS MATERIALIZED (
           SELECT DISTINCT b.doc_id AS d1, br.mn AS d2
           FROM band b JOIN broot br
             ON b.band = br.band AND b.bsig = br.bsig
           WHERE b.doc_id <> br.mn),
         e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM star
               UNION SELECT d2, d1 FROM star),
         reach AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         rt AS (
           SELECT src AS doc_id, least(src, min(dst)) AS root
           FROM reach GROUP BY src),
         dq AS (
           SELECT doc_id, source,
             0.6 * (CAST(len(list_filter(string_split(text, ' '),
                 t -> t IN ('join','filter','sort','merge','window'))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE))
             + 0.4 * least((CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0, 1.0) AS q
           FROM documents),
         withroot AS MATERIALIZED (
           SELECT dq.doc_id, dq.source, dq.q, coalesce(rt.root, dq.doc_id) AS root
           FROM dq LEFT JOIN rt ON dq.doc_id = rt.doc_id),
         rk AS (
           SELECT root, doc_id, source,
             row_number() OVER (PARTITION BY root ORDER BY q DESC, doc_id) AS rn
           FROM withroot),
         cl AS (
           SELECT root,
             min(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
             count(DISTINCT source) AS n_src
           FROM rk GROUP BY root),
         per AS (
           SELECT w.source, w.doc_id, c.keep_id, c.n_src
           FROM withroot w JOIN cl c ON w.root = c.root)
         SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN n_src > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_xsource,
           md5(coalesce(array_to_string(list_sort(
             list(doc_id) FILTER (WHERE doc_id = keep_id)), ','), '')) AS survivors_md5
         FROM per GROUP BY source ORDER BY source""",
    "dedup_incremental" -> incrementalOracleSqlStr,
    "dedup_index_probe" -> incrementalOracleSqlStr,
    "dedup_minhash_lsh" ->
      s"""WITH tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS token
           FROM documents),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         $bandCteSql,
         cand AS MATERIALIZED (
           SELECT DISTINCT a.source, a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.source = b.source AND a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id),
         cnt AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
         inter AS (
           -- LEFT join so a candidate pair with ZERO shared tokens still
           -- yields a row (inter = 0): band-signature equality does not
           -- imply a shared token, and the Spark side counts such pairs
           -- in n_candidates (an inner join here would silently drop them
           -- and desynchronize the per-source candidate counts)
           SELECT c.source, c.d1, c.d2, count(tb.token) AS inter
           FROM cand c
           JOIN tok ta ON ta.doc_id = c.d1
           LEFT JOIN tok tb ON tb.doc_id = c.d2 AND ta.token = tb.token
           GROUP BY 1, 2, 3),
         j AS (
           SELECT i.source,
             CAST(i.inter AS DOUBLE) / CAST(c1.ntok + c2.ntok - i.inter AS DOUBLE) AS jac
           FROM inter i JOIN cnt c1 ON i.d1 = c1.doc_id JOIN cnt c2 ON i.d2 = c2.doc_id)
         SELECT source, count(*) AS n_candidates,
           CAST(sum(CASE WHEN jac >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
         FROM j GROUP BY source ORDER BY source""",
    "dedup_minhash_estimate" ->
      s"""WITH tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS token
           FROM documents),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         $bandCteSql,
         cand AS MATERIALIZED (
           SELECT DISTINCT a.source, a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.source = b.source AND a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id),
         cnt AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
         inter AS (
           SELECT c.source, c.d1, c.d2, count(tb.token) AS inter
           FROM cand c
           JOIN tok ta ON ta.doc_id = c.d1
           LEFT JOIN tok tb ON tb.doc_id = c.d2 AND ta.token = tb.token
           GROUP BY 1, 2, 3),
         sc AS (
           SELECT i.source, i.d1, i.d2,
             CAST(i.inter AS DOUBLE)
               / CAST(c1.ntok + c2.ntok - i.inter AS DOUBLE) AS jac,
             CAST(${(0 until K).map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")}
               AS DOUBLE) / $K.0 AS est
           FROM inter i
           JOIN cnt c1 ON i.d1 = c1.doc_id JOIN cnt c2 ON i.d2 = c2.doc_id
           JOIN sig a ON a.doc_id = i.d1 JOIN sig b ON b.doc_id = i.d2),
         e AS (SELECT source, jac, est, abs(est - jac) AS abs_err FROM sc)
         SELECT source,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_est_near,
           CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_near,
           CAST(sum(CASE WHEN (est >= 0.5) = (jac >= 0.5) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           ${r4Sql(s"CAST(sum(CAST(floor(abs_err * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(16,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS mean_abs_err,
           floor(max(abs_err) * 1000000.0 + 0.5) / 1000000.0 AS max_abs_err
         FROM e GROUP BY source ORDER BY source""",
    "dedup_minhash_shingle" ->
      s"""WITH sh0 AS (
           SELECT doc_id, source,
             list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
               THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2])
               ELSE CAST([] AS VARCHAR[]) END) AS sh
           FROM documents),
         s2 AS (SELECT * FROM sh0 WHERE len(sh) >= 1),
         tok AS MATERIALIZED (SELECT doc_id, source, unnest(sh) AS token FROM s2),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             ${minsSql("g")}
           FROM tok GROUP BY doc_id, source),
         $bandCteSql,
         cand AS MATERIALIZED (
           SELECT DISTINCT a.source, a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.source = b.source AND a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id),
         j AS (
           SELECT c.source,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jac
           FROM cand c JOIN s2 a ON a.doc_id = c.d1 JOIN s2 b ON b.doc_id = c.d2)
         SELECT source, count(*) AS n_candidates,
           CAST(sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
         FROM j GROUP BY source ORDER BY source""",
    "dedup_edit_distance" ->
      s"""WITH tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS token
           FROM documents),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         $bandCteSql,
         cand AS MATERIALIZED (
           SELECT DISTINCT a.source, a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.source = b.source AND a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id),
         capped AS (
           SELECT source, d1, d2 FROM (
             SELECT source, d1, d2,
               row_number() OVER (PARTITION BY source ORDER BY d1, d2) AS rn
             FROM cand)
           WHERE rn <= $LevBudgetPerSource)
         SELECT c.source, c.d1, c.d2,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
           1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
             / CAST(greatest(length(a.text), length(b.text)) AS DOUBLE) AS sim
         FROM capped c JOIN documents a ON a.doc_id = c.d1
                       JOIN documents b ON b.doc_id = c.d2
         ORDER BY c.source, c.d1, c.d2""",
    // The oracle's transitive closure (recursive CTE) is exact regardless
    // of round count, so it gates that the Spark loop truly reached the
    // fixpoint — not just "ran some iterations". This one DELIBERATELY
    // derives candidates as the full per-bucket pair clique (not the
    // star edges the engine — and the other, heavier closure oracles —
    // use): it is the independent gate proving star edges span the same
    // components, so a starEdgesOf bug cannot hide by being replayed on
    // both sides.
    "dedup_cc_groups" ->
      s"""WITH RECURSIVE tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS token
           FROM documents),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         $bandCteSql,
         cand AS MATERIALIZED (
           SELECT DISTINCT a.source, a.doc_id AS d1, b.doc_id AS d2
           FROM band a JOIN band b
             ON a.source = b.source AND a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id),
         e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM cand
               UNION SELECT d2, d1 FROM cand),
         reach AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         rt AS (
           SELECT src AS doc_id, least(src, min(dst)) AS root
           FROM reach GROUP BY src),
         sz AS (SELECT root, count(*) AS n_members FROM rt GROUP BY root)
         SELECT rt.doc_id, rt.root, sz.n_members
         FROM rt JOIN sz ON rt.root = sz.root
         ORDER BY rt.doc_id""",
    "dedup_cc_incremental" ->
      s"""WITH RECURSIVE tok AS MATERIALIZED (
           SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS token
           FROM documents),
         sig AS MATERIALIZED (
           SELECT doc_id, source,
             $minhashMinsSql
           FROM tok GROUP BY doc_id, source),
         band0 AS MATERIALIZED (
           $bandSelectsSql),
         bs AS MATERIALIZED (
           SELECT doc_id, source, band, bsig FROM band0 WHERE doc_id % 7 <> 0
           QUALIFY row_number() OVER (
             PARTITION BY source, band, bsig ORDER BY doc_id) <= $LshBucketCap),
         bb AS MATERIALIZED (
           SELECT doc_id, source, band, bsig FROM band0 WHERE doc_id % 7 = 0
           QUALIFY row_number() OVER (
             PARTITION BY source, band, bsig ORDER BY doc_id) <= $LshBucketCap),
         ess AS (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM bs a JOIN bs b
             ON a.source = b.source AND a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id),
         ebs AS (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM bb a JOIN bs b
             ON a.source = b.source AND a.band = b.band AND a.bsig = b.bsig),
         ebb AS (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           FROM bb a JOIN bb b
             ON a.source = b.source AND a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id),
         eu AS (SELECT d1, d2 FROM ess UNION SELECT d1, d2 FROM ebs
                UNION SELECT d1, d2 FROM ebb),
         e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM eu
               UNION SELECT d2, d1 FROM eu),
         reach AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         rt AS (
           SELECT src AS doc_id, least(src, min(dst)) AS root
           FROM reach GROUP BY src),
         troot AS (SELECT DISTINCT root FROM rt WHERE doc_id % 7 = 0),
         sz AS (SELECT root, count(*) AS n_members FROM rt
                WHERE root IN (SELECT root FROM troot) GROUP BY root)
         SELECT rt.doc_id, rt.root, sz.n_members,
           CAST(CASE WHEN rt.doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_batch
         FROM rt JOIN sz ON rt.root = sz.root
         ORDER BY rt.doc_id""",
    "dedup_simhash" ->
      s"""WITH tok AS MATERIALIZED (
           SELECT doc_id, source, md5(unnest(string_split(text, ' '))) AS mh
           FROM documents),
         s AS (
           SELECT doc_id, source,
             $votesSql
           FROM tok GROUP BY doc_id, source),
         b AS (SELECT doc_id, source, $bitsSql AS simhash FROM s)
         SELECT source, simhash, count(*) AS n_docs, min(doc_id) AS min_doc
         FROM b GROUP BY source, simhash ORDER BY source, simhash, min_doc""")
}
