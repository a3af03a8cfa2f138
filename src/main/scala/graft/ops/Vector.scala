package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}
import Util._

/** Similarity search + multimodal surface over the `embeddings` table.
  *
  * Cosine math is built from codegen'd higher-order functions
  * (`zip_with`/`transform`/`aggregate`) — floats cast to double BEFORE any
  * arithmetic and accumulated sequentially in array order, so Spark and the
  * DuckDB oracle produce bit-identical doubles (same op order).
  *
  * Scale design: brute-force top-k broadcasts the tiny probe side so the
  * corpus streams map-side with no shuffle; the LSH variant buckets by
  * sign-random-projection so candidate generation is an equi join on the
  * bucket key (the 100 TB path); pairwise similarity is blocked by `label`
  * so pairs stay bounded per block.
  */
object Vector {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")

  // Fused codegen'd loop (graft.functions.DotProductFloat): bit-identical
  // to the zip_with+aggregate HOF formulation (same left-to-right double
  // accumulation) but stays inside whole-stage codegen.
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProductFloat.dotF(a, b)

  private def l2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine with both norms precomputed per row BEFORE pair generation —
    * O(n·d) norm work instead of O(pairs·d); the doubles are identical to
    * computing norms per pair, so the oracle (which norms per pair) still
    * hash-matches. */
  private def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** DuckDB spelling of a float×float dot product — shared by the PQ and
    * IVF oracle blocks (one definition, not one per block, so the
    * spelling cannot drift between them). */
  private def dotFFSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** DuckDB spelling of [[cosinePre]]'s cosine with identical op order. */
  private def cosSql(a: String, b: String): String = {
    def sq(v: String) =
      s"sqrt(list_sum(list_transform(range(1, len($v)+1), i -> CAST($v[i] AS DOUBLE) * CAST($v[i] AS DOUBLE))))"
    s"""(list_sum(list_transform(range(1, len($a)+1),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) / (${sq(a)} * ${sq(b)}))"""
  }

  /** Brute-force cosine top-5 for the 10 lowest-vec_id probes — the exact
    * baseline every ANN variant is measured against. Probes are broadcast;
    * the corpus side is a pure map + per-probe top-k (TakeOrdered shape),
    * so the plan has no corpus shuffle at any scale. */
  def simsearchTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding"), l2(col("embedding")).as("nrm"))
    val probes = e.orderBy("vec_id").limit(10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"))
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", r4(
        cosinePre(col("embedding"), col("p_emb"), col("nrm"), col("p_nrm"))))
    val w = Window.partitionBy("probe_id").orderBy(desc("cos"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("probe_id", "rk")
  }

  /** Sign-random-projection bucket: the sign bits of the first 8 dims.
    * Vectors with high cosine agree on most signs, so near neighbors
    * collide; candidate generation becomes an equi join on this key. */
  private def srpBucket(a: Column): Column =
    concat_ws("", transform(slice(a, 1, 8), x => when(x >= 0f, "1").otherwise("0")))

  private val srpBucketSql =
    "array_to_string(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"

  /** LSH-bucketed ANN: probes meet only corpus vectors in their SRP bucket
    * (equi join on the bucket key — shuffle-parallel, no cross join),
    * then exact cosine re-ranks the candidates, top-3 per probe. The
    * approximate counterpart of [[simsearchTopk]]. */
  def simsearchLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).withColumn("bucket", srpBucket(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("bucket"),
        l2(col("embedding")).as("nrm"))
    val probes = e.orderBy("vec_id").limit(10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("bucket"), col("nrm").as("p_nrm"))
    val scored = e.join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", r4(
        cosinePre(col("embedding"), col("p_emb"), col("nrm"), col("p_nrm"))))
    val w = Window.partitionBy("probe_id").orderBy(desc("cos"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("probe_id"), col("bucket"), col("rk"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("probe_id", "rk")
  }

  /** Multi-probe SRP ANN: each probe also searches the 8 buckets at
    * Hamming distance 1 (one sign bit flipped) — the standard multi-probe
    * LSH trick: a near neighbor that disagrees on exactly one projection
    * lands one flip away, so probing 9 buckets instead of 1 recovers most
    * boundary misses for 9× the (tiny) bucket scan, with zero extra
    * passes over the corpus. Candidate union stays duplicate-free: a
    * corpus vector lives in exactly one bucket and the 9 probe variants
    * are distinct strings, so each (probe, corpus) pair joins at most
    * once. Flip i=0 is the identity, so single-probe results are a strict
    * subset. */
  /** The 9 Hamming-≤1 probe variants of an 8-bit SRP bucket: i=0 is the
    * identity, i=1..8 flips bit i. Shared by multi-probe ANN and the
    * bucketed embedding-dedup candidate generation. */
  private def hamming1Variant(bucket: Column, i: Column): Column =
    when(i === 0, bucket)
      .otherwise(concat(
        bucket.substr(lit(1), i - 1),
        when(bucket.substr(i, lit(1)) === "1", "0").otherwise("1"),
        // tail length 64 clamps to the remaining chars — works for the
        // 8-bit buckets here and the 16-bit global-dedup buckets alike
        bucket.substr(i + 1, lit(64))))

  def simsearchLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).withColumn("bucket", srpBucket(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("bucket"),
        l2(col("embedding")).as("nrm"))
    val probes = e.orderBy("vec_id").limit(10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("bucket"), col("nrm").as("p_nrm"))
      .select(col("probe_id"), col("p_emb"), col("p_nrm"), col("bucket"),
        explode(sequence(lit(0), lit(8))).as("i"))
      .select(col("probe_id"), col("p_emb"), col("p_nrm"),
        hamming1Variant(col("bucket"), col("i")).as("bucket"))
    val scored = e.join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", r4(
        cosinePre(col("embedding"), col("p_emb"), col("nrm"), col("p_nrm"))))
    val w = Window.partitionBy("probe_id").orderBy(desc("cos"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("probe_id"), col("bucket"), col("rk"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("probe_id", "rk")
  }

  /** The multimodal DECODE path as a declared, oracle-gated query: runs
    * the real batched `mapPartitions` decode
    * ([[graft.multimodal.MultimodalOps.decodeAndFeaturize]] over
    * [[graft.multimodal.MultimodalOps.documentsAsMedia]]) and projects
    * per-record payload size, content sha256, the first decoder feature,
    * and the feature-vector L2 norm. The stub decoder is deterministic
    * in the payload bytes (sha256-derived), so DuckDB can REPLAY the
    * decode math in SQL — the one place the multimodal plumbing can be
    * differentially gated, not just unit-tested. Feature values are
    * dyadic rationals (k/128), so every term and the 16-term norm sum
    * are exact in double on both engines. */
  def multimodalDecodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    val feats = graft.multimodal.MultimodalOps.decodeAndFeaturize(
      graft.multimodal.MultimodalOps.documentsAsMedia(spark, dir))
    feats.toDF()
      .select(col("id"), col("kind"), col("n_bytes"), col("sha256"),
        r6(element_at(col("features"), 1).cast("double")).as("f0"),
        r6(sqrt(aggregate(col("features"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")))).as("f_norm"))
      .orderBy("id")
  }

  /** Element-wise mean pooling per label — class prototypes / centroid
    * embeddings, the same op that pools chunk embeddings into a document
    * embedding. Distributed shape: posexplode to (label, pos, value) —
    * a d-fold row amplification that map-side partial aggregation
    * collapses to ≤ labels×d rows per partition BEFORE the shuffle, so
    * the exchange carries centroids, not the corpus. Component sums are
    * exact integer 1e-10 units, quantized IN DOUBLE
    * (floor(x·1e10 + 0.5) — IEEE-identical both engines): a direct
    * float→DECIMAL cast is NOT engine-identical — Spark rounds the
    * float's exact expansion while DuckDB converts through float
    * arithmetic (measured at sf1: ~2 e-10 units/value drift, enough to
    * flip the r6 mean on a .5 boundary — the first sf1-sweep find).
    * Cross-partition double summation would be partition-order
    * nondeterministic; the exact decimal sum is not, and bridges back
    * through [[dec2d]]. One row per (label, pos): no engine-formatted
    * vector strings in the compare. */
  def embeddingAvgPool(spark: SparkSession, dir: String): DataFrame = {
    val d380 = DecimalType(38, 0)
    emb(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("v").cast("double") * lit(1e10) + lit(0.5))
          .cast(d380)).as("s"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("n_vecs"),
        r6(dec2d(col("s"), 10) / col("n_vecs").cast("double")).as("mean"))
      .orderBy("label", "pos")
  }

  /** Recall@3 evaluation of the multi-probe SRP ANN against the exact
    * brute-force ranking — the measurement every ANN deployment needs
    * CONTINUOUSLY, not once: embedding drift silently degrades bucket
    * quality, and recall against an exact baseline over a probe SAMPLE
    * is the standard canary. Composes the two gated operators
    * ([[simsearchTopk]] truncated to k=3 and [[simsearchLshMultiprobe]])
    * and joins their result sets per probe; cost is the ANN query plus
    * an exact pass over the probe sample only (10 probes broadcast, the
    * corpus streams map-side) — never an exact all-pairs job. */
  def simsearchRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val exact = simsearchTopk(spark, dir).filter(col("rk") <= 3)
      .select(col("probe_id"), col("neighbor_id"))
    val ann = simsearchLshMultiprobe(spark, dir)
      .select(col("probe_id"), col("neighbor_id"))
    val hits = exact.join(ann, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        r4(coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_exact").cast("double")).as("recall"))
      .orderBy("probe_id")
  }

  /** float-corpus × double-centroid dot — codegen'd
    * ([[graft.functions.DotProductFloatDouble]]); accumulates
    * left-to-right, the same op order as the DuckDB
    * `list_sum(list_transform(...))` spelling, so the doubles are
    * bit-identical cross-engine. */
  private def dotFD(a: Column, b: Column): Column =
    graft.functions.DotProductFloatDouble.dotFD(a, b)

  private def normD(b: Column): Column =
    sqrt(aggregate(b, lit(0.0), (acc, y) => acc + y * y))

  /** Lloyd iterations for the IVF coarse quantizer. */
  private val KmeansIters = 3

  /** Cells each probe searches ([[simsearchIvf]]): standard IVF multi-probe.
    * nprobe=1 has a recall cliff at cell boundaries — a true neighbor just
    * across the Voronoi edge is unreachable; searching the nearest 2 cells
    * (by probe-to-centroid cosine) recovers most of it for 2× the scan
    * cost, still n·nprobe/cells per probe. Recall vs the exact
    * [[simsearchTopk]] is asserted to improve over single-probe in
    * VectorSpec. */
  private val NProbe = 2

  /** IVF ANN with a TRAINED coarse quantizer: 16 seeds (the 16 lowest
    * vec_ids) refined by [[KmeansIters]] deterministic Lloyd iterations —
    * assign every vector to its max-cosine centroid (argmax over a
    * broadcast 16-row table, ties to the lower c_id), recompute each
    * centroid as the element-wise mean of its members. The mean goes
    * through r6-rounded DECIMAL sums, so it is independent of partition
    * and summation order AND bit-identical to the DuckDB oracle — which
    * replays the identical iterations; a cell that loses all members
    * simply disappears (both engines agree). Probes then search ONLY
    * their own cell: per-probe scan cost n/cells, the standard
    * billion-vector inverted-file layout (cells = partitions at 100 TB).
    * (Round 1 used the raw seeds as cells — flagged as a stand-in; the
    * trained quantizer makes the cell balance honest.) */
  def simsearchIvf(spark: SparkSession, dir: String): DataFrame =
    ivfSearch(spark, dir, NProbe)

  /** IVF nprobe RECALL SWEEP — the tuning table every IVF deployment is
    * configured from (`simsearch_recall_eval`'s discipline applied to the
    * IVF knob itself): recall@3 vs the exact brute-force baseline at
    * nprobe = 1..4, next to the scan fraction each setting pays
    * (nprobe/16 of the corpus per probe). The production question it
    * answers: the smallest nprobe whose recall clears the target — at
    * 100 TB each +1 nprobe is another 1/16th of the corpus scanned per
    * query, so this curve IS the serving-cost dial. Shape: train/assign
    * runs ONCE ([[ivfTrainAssign]], checkpointed) and all four serves
    * reuse it; the exact baseline is one brute-force pass (checkpointed,
    * consumed by four semi joins); each serve is the standard bounded
    * probe-broadcast join. Recall is micro-averaged over probes; the
    * one division is r4-rounded. */
  def simsearchNprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    val exact = iterCheckpoint(
      simsearchTopk(spark, dir).filter(col("rk") <= 3)
        .select(col("probe_id"), col("neighbor_id")))
    val nEx = exact.groupBy("probe_id").agg(count(lit(1)).as("n_exact"))
    val (assigned, cents) = ivfTrainAssignCached(spark, dir)
    val probes = ivfProbes(assigned)
    (1 to 4).map { np =>
      val ann = ivfServe(assigned, probes, cents, np, prune = false)
        .select(col("probe_id"), col("neighbor_id"))
      val hits = exact.join(ann, Seq("probe_id", "neighbor_id"), "left_semi")
        .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
      nEx.join(hits, Seq("probe_id"), "left")
        .agg(sum(col("n_exact")).as("n_exact"),
          sum(coalesce(col("n_hit"), lit(0L))).as("n_hit"))
        .select(lit(np.toLong).as("nprobe"),
          r4(lit(np.toDouble) / lit(16.0)).as("scan_frac"),
          col("n_exact"), col("n_hit"),
          r4(col("n_hit").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    }.reduce(_.unionByName(_)).orderBy("nprobe")
  }

  private[graft] def ivfSearch(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val (assigned, cents) = ivfTrainAssignCached(spark, dir)
    ivfServe(assigned, ivfProbes(assigned), cents, nprobe, prune = false)
  }

  /** IVF BUILD: deterministic Lloyd training + corpus cell assignment.
    * Returns (assigned corpus (vec_id, embedding, nrm, cell), centroid
    * table (c_id, c_emb, c_nrm)) — the two artifacts a persisted index
    * stores ([[ensureIvfIndex]]) and the in-memory path consumes
    * directly. */
  private val centSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("c_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("c_emb",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))

  private def centsDf(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, centSchema)
      .withColumn("c_nrm", normD(col("c_emb")))   // same expression both engines
  }

  /** One k-means assignment pass of `e` (vec_id, embedding, nrm) against
    * centroid frame `cs`. Argmax as a max_by AGGREGATE, not a per-vector
    * ranking window: the aggregate combines map-side (partial per
    * partition, no sort), where a window would shuffle and sort all
    * vec×centroid rows. Tie-break (highest cos, then lowest c_id)
    * matches the oracle's row_number(ORDER BY cos DESC, c_id) exactly. */
  private def ivfAssign(e: DataFrame, cs: DataFrame): DataFrame =
    e.crossJoin(broadcast(cs))
      .withColumn("cos_c",
        dotFD(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .groupBy(col("vec_id"))
      .agg(
        first(col("embedding")).as("embedding"),   // functionally dependent on vec_id
        first(col("nrm")).as("nrm"),
        max_by(col("c_id"), struct(col("cos_c"), -col("c_id"))).as("cell"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))

  /** Lloyd-train 16 centroids over `e` (seeds = 16 lowest vec_ids of `e`).
    * Centroids live on the DRIVER between iterations — k·d doubles
    * (16×64), bounded and scale-independent — exactly how Spark MLlib's
    * KMeans iterates (collect centers, broadcast back). This is NOT the
    * flagged full-corpus-collect anti-pattern: each iteration is one
    * distributed job whose driver-side result is 16 rows. Leaving the
    * chain lazy instead nests every iteration's plan inside the next
    * (plans, not results, compose), so iteration k recomputes 1..k−1 —
    * measured 2.5× slower at 3 iterations. */
  private def ivfTrainOver(spark: SparkSession, e: DataFrame): DataFrame = {
    var cents = centsDf(spark, e.orderBy("vec_id").limit(16)
      .select(col("vec_id").as("c_id"),
        transform(col("embedding"), x => x.cast("double")).as("c_emb"))
      .collect().toSeq)
    for (_ <- 1 to KmeansIters) {
      cents = centsDf(spark, ivfAssign(e, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg((sum(r6(col("x").cast("double")).cast(DecimalType(28, 6))).cast("double")
          / count(lit(1)).cast("double")).as("mu"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("mu")))),
          s => s.getField("mu")).as("c_emb"))
        .select(col("cell").as("c_id"), col("c_emb"))
        .collect().toSeq)
    }
    cents
  }

  /** Per-corpus write-once cache of the IVF training + assignment —
    * the [[graft.ops.Dedup.candGraphCached]] discipline applied to the
    * coarse quantizer: three declared queries (`simsearch_ivf`, the
    * nprobe sweep, the persisted-index build) consume the identical
    * artifacts, so the Lloyd chain runs once per corpus per JVM instead
    * of once per call. Keyed on corpus CONTENT, so test-fixture churn
    * and regenerated corpora re-train. */
  private def ivfTrainAssignCached(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = dirContentKey(dir, "embeddings.parquet")
    CorpusScope.cached("ivfTrain", key)(ivfTrainAssign(spark, dir))
  }

  private def ivfTrainAssign(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // Materialized once: the normalized corpus feeds KmeansIters+1
    // assignment jobs — without the checkpoint every Lloyd job re-scans
    // the parquet and re-computes the norms (the simsearchPq `sv`
    // discipline: plans compose, results don't).
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding"), l2(col("embedding")).as("nrm"))
      .transform(iterCheckpoint)
    val cents = ivfTrainOver(spark, e)
    // assigned appears TWICE in the final plan (under the broadcast
    // probeCells subtree via probes, and as the left side of scored) —
    // checkpointing stops the corpus×16 assignment aggregate running twice.
    (iterCheckpoint(ivfAssign(e, cents)), cents)
  }

  /** The fixture's probe set: the 10 lowest-vec_id corpus rows (already
    * normalized). Derived from the assignment ONCE — the in-memory path
    * computes it inline; the persisted-index path writes it beside the
    * index at build time ([[ensureIvfIndex]]) so a serve never scans the
    * corpus to find its probes. */
  private def ivfProbes(assigned: DataFrame): DataFrame =
    assigned.orderBy("vec_id").limit(10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"))

  /** IVF SERVE: the probe → multi-probe cell selection → scan → re-rank
    * half, shared verbatim by the in-memory path ([[ivfSearch]]) and the
    * persisted-index path ([[simsearchIvfIndex]]) so the two cannot
    * drift. `probes` arrives as its own bounded frame (inline for the
    * in-memory path, the persisted probe table for the index path — so
    * probe selection never scans the corpus). With `prune=true` the
    * probed cell ids (≤ probes × nprobe longs — a bounded driver-side
    * list, same discipline as the centroid collects) become a static
    * `cell IN (...)` predicate: against the cell-partitioned persisted
    * layout that is a PartitionFilter, so a serve touches only the
    * probed cells' files — the inverted-file promise made physical. */
  private def ivfServe(assigned: DataFrame, probes: DataFrame, cents: DataFrame,
      nprobe: Int, prune: Boolean): DataFrame = {
    // Multi-probe cell selection: rank the k centroids per probe by
    // probe-to-centroid cosine (same argmax + (cos desc, c_id) tiebreak as
    // assign(), so nprobe=1 reproduces the probe's own cell exactly) and
    // search the top `nprobe` cells. 10 probes × 16 centroids — the window
    // runs over a bounded broadcast product, never corpus rows. Corpus
    // vectors live in exactly one cell, so the candidate union is
    // duplicate-free by construction.
    val pw = Window.partitionBy("probe_id")
      .orderBy(desc("cos_c"), col("cell"))
    val probeCells = probes.crossJoin(broadcast(cents))
      .withColumn("cos_c",
        dotFD(col("p_emb"), col("c_emb")) / (col("p_nrm") * col("c_nrm")))
      .select(col("probe_id"), col("p_emb"), col("p_nrm"),
        col("c_id").as("cell"), col("cos_c"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe)
      .select(col("probe_id"), col("p_emb"), col("p_nrm"), col("cell"))
    val base =
      if (prune) {
        val cells = probeCells.select("cell").distinct()
          .collect().map(_.getLong(0)).sorted.toIndexedSeq
        assigned.filter(col("cell").isin(cells: _*))
      } else assigned
    val scored = base.join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", r4(
        cosinePre(col("embedding"), col("p_emb"), col("nrm"), col("p_nrm"))))
    val w = Window.partitionBy("probe_id").orderBy(desc("cos"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("probe_id"), col("cell"), col("rk"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("probe_id", "rk")
  }

  /** Embedding near-dup, BUCKETED: top-3 most-similar candidate pairs per
    * label, where candidates are same-label pairs whose 8-bit SRP buckets
    * are within Hamming distance 1. Candidate generation is an equi join
    * on (label, bucket): the left side fans out to its 9 Hamming-≤1 probe
    * variants ([[hamming1Variant]] — i=0 identity, so a d=0 pair matches
    * at i=0 and a d=1 pair at exactly its differing bit: each unordered
    * pair joins ONCE), the right side stays in its single true bucket.
    * Pair volume is Σ_bucket |b|·|b∪neighbors| instead of |label-block|²
    * — the structure that survives a 100 TB corpus. Exact cosine re-ranks
    * the candidates. The oracle replays the identical candidate rule
    * (hamming(bucket_a, bucket_b) ≤ 1 — SRP sign bits are deterministic
    * in both engines), the same replayed-generation gating as
    * dedup_minhash_lsh: an all-pairs oracle cannot gate an ANN path on
    * this corpus (max intra-label cosine ≈ 0.48 → per-bit sign-agreement
    * ≈ 0.66 → P(Hamming ≤ 1 over 8 bits) ≈ 0.18 even for the BEST pair),
    * while the uncapped all-pairs formulation lives on as the
    * VectorSpec ground-truth check on a synthetic fixture with real
    * near-dups, where SRP recall at cos ≥ 0.95 is ~1. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .withColumn("bucket", srpBucket(col("embedding")))
      .select(col("vec_id"), col("label"), col("embedding"), col("bucket"),
        l2(col("embedding")).as("nrm"))
    val lhs = e
      .select(col("vec_id").as("v1"), col("label"),
        col("embedding").as("e1"), col("nrm").as("n1"),
        col("bucket"), explode(sequence(lit(0), lit(8))).as("i"))
      .select(col("v1"), col("label"), col("e1"), col("n1"),
        hamming1Variant(col("bucket"), col("i")).as("bucket"))
    val rhs = e.select(col("vec_id").as("v2"), col("label"),
      col("embedding").as("e2"), col("nrm").as("n2"), col("bucket"))
    val pairs = lhs.join(rhs, Seq("label", "bucket"))
      .filter(col("v1") < col("v2"))
      .select(
        col("label").cast("long").as("label"),
        col("v1"), col("v2"),
        r4(cosinePre(col("e1"), col("e2"), col("n1"), col("n2"))).as("cos"))
    val w = Window.partitionBy("label").orderBy(desc("cos"), col("v1"), col("v2"))
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("label"), col("rk"), col("v1"), col("v2"), col("cos"))
      .orderBy("label", "rk")
  }

  /** Scalar int8 quantization of the embedding column — the storage/
    * bandwidth workhorse of vector infra (4× smaller, dot products in
    * int arithmetic). Per vector: scale = 127/max|x|, q_i =
    * round(x_i·scale) in [−127,127]; reported with the reconstruction
    * error so quality is part of the contract. Everything is per-row
    * HOF math over exact doubles with floor-spelling rounding — zero
    * shuffle, identical in DuckDB. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    // xd and s are MATERIALIZED columns: an expression referenced inside
    // a HOF lambda re-evaluates per ELEMENT (the round-1 shingle trap);
    // as attributes they evaluate once per row.
    val err = aggregate(
      zip_with(col("xd"), col("q"), (v, qi) => {
        val d = v - qi.cast("double") / col("s")
        d * d
      }),
      lit(0.0), (acc, v) => acc + v)
    emb(spark, dir)
      .withColumn("xd", transform(col("embedding"), x => x.cast("double")))
      .withColumn("s", lit(127.0) / array_max(transform(col("xd"), v => abs(v))))
      .withColumn("q", transform(col("xd"), v => floor(v * col("s") + lit(0.5)).cast("int")))
      .select(
        col("vec_id"),
        r6(col("s")).as("q_scale"),
        concat_ws(",", slice(col("q"), 1, 8)).as("q_head8"),
        size(col("q")).cast("long").as("dim"),
        r6(sqrt(err / size(col("q")).cast("double"))).as("rms_err"))
      .orderBy("vec_id")
  }

  /** Multimodal equi join: text table × vector table on doc_id=vec_id,
    * per (lang, label) stats. Per-row norms are deterministic doubles;
    * the group mean accumulates through a decimal so row order can't
    * perturb it. */
  def multimodalJoinStats(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    val e = emb(spark, dir)
    d.join(e, d("doc_id") === e("vec_id"))
      .select(col("lang"), col("label").cast("long").as("label"),
        col("n_chars"), l2(col("embedding")).as("norm"))
      .groupBy("lang", "label")
      .agg(
        count(lit(1)).as("n"),
        r4(sum(r6(col("norm")).cast(DecimalType(18, 6))).cast("double")
          / count(lit(1)).cast("double")).as("avg_norm"),
        r4(sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"))
      .orderBy("lang", "label")
  }

  /** Multimodal binary plumbing: treat content as an opaque binary column
    * with typed metadata — byte length, content hash, a "frame sample"
    * (first 8 bytes, base64). Text stands in for image/audio payloads (the
    * decode step proper is stubbed in graft.multimodal); the Spark-side
    * schema/projection plumbing is the real thing. */
  def multimodalBinaryMeta(spark: SparkSession, dir: String): DataFrame = {
    val blob = col("text").cast("binary")
    table(spark, dir, "documents")
      .select(
        col("doc_id"),
        length(blob).cast("long").as("n_bytes"),
        md5(blob).as("content_md5"),
        // head sample sliced at CHARACTER granularity before encoding:
        // DuckDB has no BLOB substring, so a byte slice would diverge from
        // the oracle on any multi-byte UTF-8 text (char-slice-then-encode
        // is well-defined cross-engine for all valid UTF-8, not just the
        // ASCII fixture)
        base64(substring(col("text"), 1, 8).cast("binary")).as("head8_b64"))
      .orderBy("doc_id")
  }

  private val PqM = 8       // subspaces (64-dim embedding → 8 dims each)
  private val PqK = 16      // centroids per subspace codebook
  private val PqIters = 2   // Lloyd iterations per codebook
  private val PqTrainCap = 256 // Lloyd sample bound (encode stays full-corpus)

  /** Squared L2 distance between two double arrays — the PQ training and
    * lookup-table metric. Codegen'd fused loop
    * ([[graft.functions.SqDistDouble]]), bit-identical to the
    * `zip_with`+`aggregate` HOF spelling it replaces and to the oracle's
    * list_sum(list_transform(...)) (same left-to-right IEEE op order). */
  private def sqdist(a: Column, c: Column): Column =
    graft.functions.SqDistDouble.sqDist(a, c)

  /** Product-quantization ANN with an ADC (asymmetric distance
    * computation) scan — the compressed-domain search that makes
    * billion-vector corpora tractable: each vector is stored as [[PqM]]
    * one-byte codes (its nearest centroid per 8-dim subspace, codebooks
    * Lloyd-trained like [[simsearchIvf]]'s coarse quantizer), and a probe
    * scans the corpus by summing [[PqM]] precomputed table lookups
    * instead of touching raw floats — at 100 TB the scan reads 8 bytes
    * per vector instead of 256. Structure:
    *
    *   1. codebooks: per subspace, [[PqK]] centroids from the corpus's
    *      16 lowest-vec_id subvectors, refined by [[PqIters]]
    *      deterministic Lloyd iterations (driver holds 8×16×8 doubles —
    *      the MLlib collect-and-broadcast pattern, never corpus data);
    *   2. encode: per (vector, subspace) the argmin-distance centroid
    *      (ties to the lower centroid id) — one broadcast join + map-side
    *      max_by aggregate;
    *   3. ADC: per probe a 8×16 distance table (broadcast, 1280 rows for
    *      10 probes) joined to the code table on (sub, code), summed per
    *      (probe, vector) through r6-quantized decimals (order-exact);
    *   4. top-5 candidates per probe by approximate distance through the
    *      custom heap exec [[graft.plans.TopK]] (per-partition heaps +
    *      one hash shuffle — never a full per-probe sort);
    *   5. exact cosine re-rank of the 5.
    *
    * The oracle replays the identical training, encoding, and ADC math —
    * generated by the same loop so the two cannot drift (the
    * simsearch_ivf discipline). */
  def simsearchPq(spark: SparkSession, dir: String): DataFrame = {
    val (codes, cents) = pqTrainEncode(spark, dir)
    pqSearch(spark, dir, codes, cents)
  }

  /** Per-(id, subspace) 8-dim double subvectors of an embedding column —
    * the PQ slicing, shared by training, encoding, and the probe
    * distance-table build. */
  private def subVecs(
      df: DataFrame, idCol: String, embCol: String, out: String): DataFrame =
    df.select(col(idCol), explode(sequence(lit(0), lit(PqM - 1))).as("sub"),
        col(embCol))
      .select(col(idCol), col("sub"),
        transform(slice(col(embCol), col("sub") * 8 + 1, lit(8)),
          x => x.cast("double")).as(out))

  /** PQ training + encoding (steps 1–2 of [[simsearchPq]]'s structure):
    * Lloyd-train the [[PqM]]×[[PqK]] codebooks, encode every corpus
    * vector to its per-subspace nearest-centroid code. Returns
    * (codes: one (vec_id, sub, code) row per vector per subspace,
    * codebooks: (sub, c_id, c_emb)). Deterministic end to end, so a
    * persisted replay ([[simsearchPqIndex]]) is bit-identical to an
    * in-memory run. */
  private def pqTrainEncode(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    pqTrainEncodeOver(spark, embWithNrm(spark, dir))

  private def embWithNrm(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("vec_id"), col("embedding"), l2(col("embedding")).as("nrm"))

  /** Per-(vector, subspace) nearest-centroid assignment against any
    * codebook frame — argmin as a map-side max_by aggregate (no window),
    * ties to the lower centroid id. Shared by Lloyd training, the full
    * corpus encode, and the incremental batch encode
    * ([[simsearchIndexUpsert]]), so frozen-codebook encoding cannot
    * drift from build-time encoding. */
  private def pqAssign(sv: DataFrame, cs: DataFrame): DataFrame =
    sv.join(broadcast(cs), "sub")
      .withColumn("d2s", sqdist(col("subv"), col("c_emb")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(
        first(col("subv")).as("subv"),   // functionally dependent
        max_by(col("c_id"), struct(-col("d2s"), -col("c_id"))).as("code"))

  /** [[pqTrainEncode]] over an explicit (vec_id, embedding, nrm) corpus
    * frame — the seam that lets the incremental index train on the
    * STANDING slice only while everything else is shared verbatim. */
  private def pqTrainEncodeOver(
      spark: SparkSession, e: DataFrame): (DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    // Materialized once: the subvector table feeds PqIters+1 assignment
    // jobs plus the encode pass — without the checkpoint each job would
    // re-scan and re-slice the corpus (plans compose, results don't).
    val sv = iterCheckpoint(subVecs(e, "vec_id", "embedding", "subv"))
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sub",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("c_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c_emb",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    def centsDf(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(rows.asJava, centSchema)
    // assignment: per (vector, subspace) the nearest centroid of that
    // subspace — argmin as a map-side max_by aggregate (no window).
    def assignCodes(cs: DataFrame): DataFrame = pqAssign(sv, cs)
    // Lloyd refinement runs on a BOUNDED training sample (the PqTrainCap
    // lowest vec_ids — one TakeOrdered pass + a broadcast semi-join on
    // the checkpointed subvectors), the production PQ discipline: the
    // codebook needs a representative sample, not the corpus, and
    // per-iteration full-corpus assignment would add PqIters extra
    // 100 TB passes to the ONE encode pass that is actually required.
    // Below the cap (sf ≤ 0.01 fixtures) the sample IS the corpus, so
    // small-scale values are unchanged.
    val trainIds = e.orderBy("vec_id").limit(PqTrainCap).select("vec_id")
    val svTrain = sv.join(broadcast(trainIds), "vec_id")
    var cents = centsDf(
      subVecs(e.orderBy("vec_id").limit(PqK), "vec_id", "embedding", "c_emb")
        .select(col("sub"), col("vec_id").as("c_id"), col("c_emb"))
        .collect().toSeq)
    for (_ <- 1 to PqIters) {
      cents = centsDf(pqAssign(svTrain, cents)
        .select(col("sub"), col("code"), posexplode(col("subv")).as(Seq("i", "x")))
        .groupBy("sub", "code", "i")
        .agg((sum(r6(col("x")).cast(DecimalType(28, 6))).cast("double")
          / count(lit(1)).cast("double")).as("mu"))
        .groupBy("sub", "code")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("mu")))),
          s => s.getField("mu")).as("c_emb"))
        .select(col("sub"), col("code").as("c_id"), col("c_emb"))
        .collect().toSeq)
    }
    (assignCodes(cents).select("vec_id", "sub", "code"), cents)
  }

  /** The PQ ADC search (steps 3–5 of [[simsearchPq]]'s structure) over any
    * code/codebook source — in-memory training output or the persisted
    * index — so the two declared variants share one expression tree and
    * cannot drift. */
  private def pqSearch(spark: SparkSession, dir: String,
      codes: DataFrame, cents: DataFrame): DataFrame = {
    // Re-deriving `e` here is free: it is an unmaterialized plan, and the
    // two jobs that use it (the 10-probe TakeOrdered and the 50-row exact
    // re-rank scan) each scan the parquet once regardless of whether the
    // frame object is shared with the training side — training's repeated
    // reads go through the checkpointed subvector table, never this plan.
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding"), l2(col("embedding")).as("nrm"))
    val probes = e.orderBy("vec_id").limit(10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"))
    val dtab = subVecs(probes, "probe_id", "p_emb", "psv")
      .join(cents, "sub")
      .select(col("probe_id"), col("sub"), col("c_id").as("code"),
        sqdist(col("psv"), col("c_emb")).as("pd"))
    val adist = codes.join(broadcast(dtab), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(r6(col("pd")).cast(DecimalType(28, 6))).cast("double").as("adist"))
    val top5 = graft.plans.TopK.topKPerKey(adist, Seq("probe_id"),
      Seq(graft.plans.TopK.Ord("adist"), graft.plans.TopK.Ord("vec_id")), 5)
    val rr = e.join(broadcast(top5), "vec_id")
      .join(broadcast(probes), "probe_id")
      .withColumn("cos", r4(
        cosinePre(col("embedding"), col("p_emb"), col("nrm"), col("p_nrm"))))
    val w = Window.partitionBy("probe_id").orderBy(desc("cos"), col("vec_id"))
    rr.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("probe_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("cos"), r6(col("adist")).as("adist_r"))
      .orderBy("probe_id", "rk")
  }

  /** Ensure the persisted PQ index for `dir` exists; returns
    * (codes table name, codebook parquet path). Write-once per corpus
    * content ([[CorpusScope.persisted]]): codes land
    * as a BUCKETED catalog table on vec_id via
    * [[graft.sources.TableSinks.writeBucketed]] — at serving scale the
    * ADC aggregate groups on (probe_id, vec_id), and a vec_id-hash layout
    * already satisfies that clustering, so the scan-side aggregation runs
    * with NO exchange; codebooks (128 rows) land as plain parquet. */
  private def ensurePqIndex(spark: SparkSession, dir: String): (String, String) =
    CorpusScope.persisted("pqIndex", spark, dir, "embeddings") { a =>
      val codesTable = a.table("g_pq_codes_")
      val cbPath = a.path("cb_")
      val (codes, cents) = pqTrainEncode(spark, dir)
      graft.sources.TableSinks.writeBucketed(codes, codesTable, "vec_id", 8)
      cents.write.mode("overwrite").parquet(cbPath)
      (codesTable, cbPath)
    }

  /** PQ ANN with BUILD/SEARCH SEPARATION — the missing piece between
    * [[simsearchPq]] and a production vector-serving path: at 100 TB the
    * index is built once and served many times, never retrained inside a
    * query. The build ([[ensurePqIndex]], write-once per corpus)
    * persists the 8-byte-per-vector code table to a vec_id-bucketed
    * parquet layout and the codebooks beside it; the SEARCH side reads
    * only the persisted tables — zero Lloyd jobs, zero raw-embedding
    * scans except the 10-probe lookup and the final 50-row exact re-rank.
    * Training is deterministic, so the persisted replay matches
    * [[simsearchPq]] exactly and the SAME oracle gates both. */
  def simsearchPqIndex(spark: SparkSession, dir: String): DataFrame = {
    val (codesTable, cbPath) = ensurePqIndex(spark, dir)
    pqSearch(spark, dir, spark.table(codesTable), spark.read.parquet(cbPath))
  }

  /** The "new arrivals" slice for the incremental-index demonstration:
    * vec_id % 5 == 0 (~20%) is the batch, the rest is the standing
    * corpus — deterministic, like [[graft.ops.Dedup]]'s doc_id % 7
    * incremental split (a different modulus, so the two fixtures don't
    * shadow each other's edge cases). */
  private val upsertBatchPred = col("vec_id") % 5 === 0

  /** Encode a batch of vectors against FROZEN persisted codebooks — the
    * upsert path's only job: one broadcast join + map-side argmin over
    * the batch's subvectors. Zero Lloyd iterations, zero reads of the
    * standing code table, zero reads of standing embeddings (the batch
    * predicate reaches the embeddings scan as a pushed filter —
    * PlanSpec-asserted). Exposed private[graft] so the spec can assert
    * exactly that plan shape. */
  private[graft] def pqUpsertBatchCodes(
      spark: SparkSession, dir: String, cbs: DataFrame): DataFrame =
    pqAssign(
      subVecs(embWithNrm(spark, dir).filter(upsertBatchPred),
        "vec_id", "embedding", "subv"),
      cbs)
      .select(col("vec_id"), col("sub"), col("code"))

  /** Ensure the INCREMENTAL PQ index for `dir`: build the persisted index
    * over the standing corpus only (Lloyd training + encode + bucketed
    * write, exactly [[ensurePqIndex]]'s machinery over the standing
    * slice), then UPSERT the batch — encode it with the persisted frozen
    * codebooks and APPEND to the bucketed code table. Write-once per
    * corpus content; the append lands bucketed files in the same
    * vec_id-hash layout, so the serve-side ADC aggregation still runs
    * with no exchange. */
  private[graft] def ensurePqUpsertIndex(spark: SparkSession, dir: String): (String, String) =
    CorpusScope.persisted("pqUpsert", spark, dir, "embeddings") { a =>
      val codesTable = a.table("g_pqu_codes_")
      val cbPath = a.path("cbu_")
      // T0: standing-only build — train + encode + persist
      val (sCodes, cents) = pqTrainEncodeOver(spark,
        embWithNrm(spark, dir).filter(!upsertBatchPred))
      graft.sources.TableSinks.writeBucketed(
        sCodes.select("vec_id", "sub", "code"), codesTable, "vec_id", 8)
      cents.write.mode("overwrite").parquet(cbPath)
      // T1: the batch arrives — encode with the PERSISTED codebooks (read
      // back from disk, not the in-memory frame: the serve-time contract
      // is that upsert needs only the index artifacts) and append.
      pqUpsertBatchCodes(spark, dir, spark.read.parquet(cbPath))
        .write.format("parquet").mode("append")
        .bucketBy(8, "vec_id").sortBy("vec_id")
        .saveAsTable(codesTable)
      (codesTable, cbPath)
    }

  /** INCREMENTAL ANN index maintenance — the reference's A7 incremental
    * contract (`src/bak_unload.ps1:57-66`: new arrivals are processed
    * against standing state, never by reprocessing the archive) applied
    * to the similarity index, exactly as `dedup_index_probe` applied it
    * to dedup: the standing corpus's PQ index is built ONCE
    * (Lloyd-trained on standing vectors, codes persisted bucketed); when
    * a batch arrives it is encoded with the EXISTING frozen codebooks —
    * zero Lloyd jobs, zero standing-code rescans, cost ∝ batch size —
    * and its codes are APPENDED to the bucketed code table. Serving then
    * reads the unioned table. Codebooks deliberately stay frozen (the
    * production posture: retraining invalidates every stored code, so
    * rebuilds are scheduled, not per-batch); encoding is deterministic
    * per row, so standing-encode + batch-encode ≡ one encode of the
    * union against the same codebooks, and the oracle replays exactly
    * that (standing-trained codebooks, union codes, full-corpus probes).
    * Output schema matches [[simsearchPq]]. */
  def simsearchIndexUpsert(spark: SparkSession, dir: String): DataFrame = {
    val (codesTable, cbPath) = ensurePqUpsertIndex(spark, dir)
    pqSearch(spark, dir, spark.table(codesTable), spark.read.parquet(cbPath))
  }

  /** Ensure the persisted IVF index for `dir`: the Lloyd-trained corpus
    * assignment written as a parquet layout PARTITIONED BY cell (the
    * inverted file — each cell is a directory, so a probe's `cell IN`
    * predicate prunes at the file listing), centroids beside it, and the
    * probe set beside those — probe selection at serve time reads this
    * 10-row table, NOT the corpus, so the only corpus scan in a serve
    * plan is the partition-pruned scoring scan. The fourth element is
    * the cell layout's schema (see [[readCells]]).
    * Write-once per corpus content. */
  private def ensureIvfIndex(spark: SparkSession, dir: String)
      : (String, String, String, StructType) =
    CorpusScope.persisted("ivfIndex", spark, dir, "embeddings") { a =>
      val corpusPath = a.path("cells_")
      val centPath = a.path("cent_")
      val probePath = a.path("probes_")
      val (assigned, cents) = ivfTrainAssignCached(spark, dir)
      assigned.write.mode("overwrite").partitionBy("cell").parquet(corpusPath)
      cents.write.mode("overwrite").parquet(centPath)
      ivfProbes(assigned).write.mode("overwrite").parquet(probePath)
      (corpusPath, centPath, probePath, assigned.schema)
    }

  /** An IVF cell layout read with the schema it was written with, not
    * inferred: a zero-row corpus writes no cell directory to infer from. */
  private def readCells(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))

  /** IVF ANN with BUILD/SEARCH SEPARATION — [[simsearchIvf]]'s quantizer
    * trained ONCE and persisted ([[ensureIvfIndex]]), then served from
    * the cell-partitioned layout: the serve plan runs zero Lloyd jobs,
    * reads its probes from the 10-row persisted probe table (never the
    * corpus), and scans only the probed cells' partitions (prune=true
    * turns the probe list into a PartitionFilter — at a billion vectors
    * a 10-probe serve reads nprobe·10/16 of the corpus files, nothing
    * else). Floats, norms, and cell ids round-trip parquet exactly, so
    * the serve result is bit-identical to the in-memory path and the
    * SAME oracle gates both. */
  def simsearchIvfIndex(spark: SparkSession, dir: String): DataFrame = {
    val (corpusPath, centPath, probePath, cellSchema) = ensureIvfIndex(spark, dir)
    val corpus = readCells(spark, corpusPath, cellSchema)
    ivfServe(corpus, spark.read.parquet(probePath),
      spark.read.parquet(centPath), NProbe, prune = true)
  }

  /** The "new arrivals" slice for the IVF incremental index — a modulus
    * distinct from the PQ upsert's %5 and dedup's %7 so the three
    * incremental fixtures don't shadow each other's edge cases. */
  private val ivfBatchPred = col("vec_id") % 6 === 0

  /** Assign a batch of vectors to FROZEN persisted centroids — the IVF
    * upsert's only corpus work: one broadcast of the 16-row centroid
    * table + a map-side argmax aggregate over the batch. Zero Lloyd
    * iterations, zero reads of the standing cell layout, zero standing-
    * embedding scans (the batch predicate evaluates in the scan stage).
    * Exposed private[graft] so the spec can assert exactly that. */
  private[graft] def ivfUpsertBatchAssign(
      spark: SparkSession, dir: String, cents: DataFrame): DataFrame =
    ivfAssign(
      emb(spark, dir).filter(ivfBatchPred)
        .select(col("vec_id"), col("embedding"), l2(col("embedding")).as("nrm")),
      cents)

  /** Ensure the INCREMENTAL IVF index for `dir`: T0 builds the persisted
    * index over the STANDING slice only (Lloyd training + assignment +
    * cell-partitioned write — [[ensureIvfIndex]]'s machinery over the
    * standing corpus); T1 the batch arrives and is UPSERTED — assigned
    * with the persisted frozen centroids (read back from disk: the
    * serve-time contract is that upsert needs only the index artifacts)
    * and APPENDED into the same cell-partitioned layout, so serve-side
    * partition pruning sees one unified inverted file. The persisted
    * probe table is refreshed from (standing probes ∪ batch) — a 10-row
    * merge that never rescans standing vectors. Write-once per corpus.
    * The fourth element is the cell layout's schema. */
  private[graft] def ensureIvfUpsertIndex(
      spark: SparkSession, dir: String): (String, String, String, StructType) =
    CorpusScope.persisted("ivfUpsert", spark, dir, "embeddings") { a =>
      val corpusPath = a.path("cells_u_")
      val centPath = a.path("cent_u_")
      val probePath = a.path("probes_u_")
      // T0: standing-only build — train + assign + persist.
      val eStanding = emb(spark, dir).filter(!ivfBatchPred)
        .select(col("vec_id"), col("embedding"), l2(col("embedding")).as("nrm"))
        .transform(iterCheckpoint)
      val cents = ivfTrainOver(spark, eStanding)
      val standingAssigned = iterCheckpoint(ivfAssign(eStanding, cents))
      standingAssigned.write.mode("overwrite").partitionBy("cell").parquet(corpusPath)
      cents.write.mode("overwrite").parquet(centPath)
      ivfProbes(standingAssigned).write.mode("overwrite").parquet(probePath)
      // T1: the batch arrives — assign with the PERSISTED centroids and
      // append into the cell-partitioned layout.
      val batchAssigned = iterCheckpoint(
        ivfUpsertBatchAssign(spark, dir, spark.read.parquet(centPath)))
      batchAssigned.write.mode("append").partitionBy("cell").parquet(corpusPath)
      // Probe refresh: 10 lowest vec_ids of (standing probes ∪ batch) ==
      // the union corpus's 10 lowest, computed WITHOUT a standing rescan.
      // Collected (≤ 10 + |batch| rows ranked, 10 kept — bounded driver
      // state, the centroid-collect discipline) because the new table
      // overwrites the path the old one reads from.
      import scala.jdk.CollectionConverters._
      val probeRows = spark.read.parquet(probePath)
        .unionByName(batchAssigned.select(col("vec_id").as("probe_id"),
          col("embedding").as("p_emb"), col("nrm").as("p_nrm")))
        .orderBy("probe_id").limit(10)
      val pSchema = probeRows.schema
      val collected = probeRows.collect().toSeq
      spark.createDataFrame(collected.asJava, pSchema)
        .write.mode("overwrite").parquet(probePath)
      (corpusPath, centPath, probePath, standingAssigned.schema)
    }

  /** INCREMENTAL IVF index maintenance — the IVF twin of
    * [[simsearchIndexUpsert]], completing the incremental-arrival story
    * (ref A7, `src/bak_unload.ps1:57-66`) for both persisted ANN layouts:
    * the standing corpus's quantizer is Lloyd-trained ONCE and frozen;
    * a new batch is assigned to the existing cells with one broadcast
    * argmax pass (cost ∝ batch) and appended into the cell-partitioned
    * inverted file; serves then partition-prune over the unified layout
    * with zero Lloyd jobs. Centroids deliberately stay frozen (the
    * production posture — re-clustering moves every stored vector's cell,
    * so rebuilds are scheduled, not per-batch); assignment is
    * deterministic per row, so standing-assign + batch-assign ≡ one
    * assignment of the union against the same centroids, and the oracle
    * replays exactly that (standing-trained centroids, union assignment,
    * union probes). Output schema matches [[simsearchIvf]]. */
  def simsearchIvfUpsert(spark: SparkSession, dir: String): DataFrame = {
    val (corpusPath, centPath, probePath, cellSchema) = ensureIvfUpsertIndex(spark, dir)
    val corpus = readCells(spark, corpusPath, cellSchema)
    ivfServe(corpus, spark.read.parquet(probePath),
      spark.read.parquet(centPath), NProbe, prune = true)
  }

  /** Multimodal frame sampling — the video/audio access pattern over an
    * opaque binary payload: k evenly-spaced fixed-length "frames" per
    * blob, each emitted with its offset, content hash, and base64 bytes
    * (the real decode is the stubbed step in graft.multimodal; offsets,
    * slicing, hashing, and the one-row-per-frame fan-out are the real
    * Spark-side plumbing). Pure per-row projection + a bounded 4-way
    * explode — zero shuffle at any corpus size. Frame stride is
    * ⌊n/4⌋ bytes; payloads shorter than 4 bytes yield only frame 0.
    * The fixture payload is ASCII text, so char offsets = byte offsets
    * in both engines. */
  /** Scene-cut detection over the sampled frame stream — the video-
    * curation pass that decides WHICH frames are worth embedding (one
    * per scene, not one per stride): consecutive frame features that
    * jump by more than half the feature range mark a cut. The decode is
    * the stubbed step (graft.multimodal discipline): the "frame
    * feature" is the md5-derived 32-bit integer of the frame slice —
    * deterministic in both engines — while the eight-frame fan-out, the
    * per-video lag window, and the cut aggregate are the real Spark
    * plumbing a true decoder would ride unchanged. Shape at scale:
    * bounded 8-way explode, ONE window partitioned by doc (every
    * video's frame stream is its own partition — embarrassingly
    * parallel), then a per-doc hash agg. All integer arithmetic. */
  def multimodalSceneCuts(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n"))
    val frames = d
      .select(col("doc_id"), col("text"), col("n"),
        explode(sequence(lit(0L), lit(7L))).as("frame_no"))
      .withColumn("step", floor(col("n") / 8).cast("long"))
      .filter(col("frame_no") === 0 || col("step") > 0)
      .withColumn("off", col("frame_no") * col("step") + 1)
      .filter(col("off") <= col("n"))
      .withColumn("feat",
        conv(substring(md5(col("text").substr(col("off").cast("int"),
          lit(12)).cast("binary")), 1, 8), 16, 10).cast("long"))
    val w = Window.partitionBy("doc_id").orderBy("frame_no")
    frames
      .withColumn("delta", abs(col("feat") - lag(col("feat"), 1).over(w)))
      .withColumn("is_cut",
        col("delta").isNotNull && col("delta") > lit(2147483648L))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_frames"),
        sum(col("is_cut").cast("long")).as("n_cuts"),
        max(col("delta")).as("max_delta"),
        min(when(col("is_cut"), col("frame_no"))).as("first_cut"))
      .orderBy("doc_id")
  }

  /** Voice-activity segmentation over the sampled frame stream — the
    * audio-curation pass that decides WHICH spans of a recording carry
    * speech worth transcribing/embedding (silence trimming is the first
    * stage of every audio training pipeline). Sixteen frames per
    * payload; the decode is the stubbed step (graft.multimodal
    * discipline: the "frame energy" is the md5-derived feature mod
    * 1000, deterministic in both engines), while the fan-out, the
    * per-payload run-length window (active run = consecutive frames at
    * energy ≥ 500), the min-duration filter (runs shorter than 2 frames
    * are blips, not speech), and the per-payload segment aggregate are
    * the real Spark plumbing a true VAD model would ride unchanged.
    * Shape at scale: bounded 16-way explode, windows partitioned by
    * doc (each recording's frame stream is its own partition), two
    * model-sized hash aggs. All integer arithmetic. */
  def multimodalAudioVad(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n"))
    val frames = d
      .select(col("doc_id"), col("text"), col("n"),
        explode(sequence(lit(0L), lit(15L))).as("frame_no"))
      .withColumn("step", floor(col("n") / 16).cast("long"))
      .filter(col("frame_no") === 0 || col("step") > 0)
      .withColumn("off", col("frame_no") * col("step") + 1)
      .filter(col("off") <= col("n"))
      .withColumn("energy", pmod(
        conv(substring(md5(col("text").substr(col("off").cast("int"),
          lit(12)).cast("binary")), 1, 8), 16, 10).cast("long"), lit(1000L)))
      .withColumn("active", col("energy") >= 500)
    val w = Window.partitionBy("doc_id").orderBy("frame_no")
    val runs = frames
      .withColumn("new_run", (col("active") &&
        !coalesce(lag(col("active"), 1).over(w), lit(false))).cast("long"))
      .withColumn("run_id", sum(col("new_run"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val segs = runs.filter(col("active"))
      .groupBy("doc_id", "run_id")
      .agg(count(lit(1)).as("len"), min(col("frame_no")).as("seg_start"))
      .filter(col("len") >= 2)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"), max(col("len")).as("longest_seg"),
        min(col("seg_start")).as("first_seg_frame"),
        sum(col("len")).as("n_voiced"))
    frames.groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("active").cast("long")).as("n_active"))
      .join(segs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"), col("n_active"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        col("longest_seg"), col("first_seg_frame"),
        coalesce(col("n_voiced"), lit(0L)).as("n_voiced"),
        r4(coalesce(col("n_voiced"), lit(0L)).cast("double") /
          col("n_frames").cast("double")).as("voiced_ratio"))
      .orderBy("doc_id")
  }

  /** A/V SYNC-DRIFT audit over the sampled frame stream — the ingest
    * check a video-training pipeline runs before trusting any
    * audio-text or audio-frame alignment downstream: the video track's
    * per-frame presentation timestamps carry bounded JITTER while the
    * audio track's clock runs at a slightly wrong RATE, so the
    * audio−video offset grows linearly and the asset drifts out of
    * sync. The decode is the stubbed step (graft.multimodal
    * discipline): video PTS = frame_no·40 ms + jitter where jitter is
    * the md5-derived frame feature mod 1001 − 500 (±0.5 ms), audio PTS
    * = frame_no·40 ms + frame_no·skew where skew is the md5-derived
    * per-asset constant mod 41 − 20 (±20 µs/frame clock error) —
    * deterministic on both engines, while the eight-frame fan-out, the
    * per-asset first/last/extreme selection, and the out-of-sync gate
    * are the real Spark plumbing a true demuxer would ride unchanged.
    * The gate fires at max|drift| > 520 µs — strictly beyond the
    * ±500 µs jitter envelope, so jitter alone can NEVER flag an asset;
    * crossing requires genuinely compounding clock skew (|skew| ≥ 3
    * µs/frame reinforcing an extreme jitter excursion), which keeps
    * the column informative at fixture scale (~5% of assets) instead
    * of constant. Shape at scale: bounded 8-way explode, one per-asset
    * hash agg, all integer arithmetic (the only division is the final
    * drift-per-frame display ratio). */
  def multimodalAvSyncDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n"),
        (pmod(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(41L)) - 20L).as("skew"))
    val frames = d
      .select(col("doc_id"), col("text"), col("n"), col("skew"),
        explode(sequence(lit(0L), lit(7L))).as("frame_no"))
      .withColumn("step", floor(col("n") / 8).cast("long"))
      .filter(col("frame_no") === 0 || col("step") > 0)
      .withColumn("off", col("frame_no") * col("step") + 1)
      .filter(col("off") <= col("n"))
      .withColumn("jitter", pmod(
        conv(substring(md5(col("text").substr(col("off").cast("int"),
          lit(12)).cast("binary")), 1, 8), 16, 10).cast("long"),
        lit(1001L)) - 500L)
      .withColumn("drift", col("frame_no") * col("skew") - col("jitter"))
    frames.groupBy("doc_id", "skew")
      .agg(count(lit(1)).as("n_frames"),
        min(struct(col("frame_no"), col("drift"))).getField("drift")
          .as("first_drift"),
        max(struct(col("frame_no"), col("drift"))).getField("drift")
          .as("end_drift"),
        max(abs(col("drift"))).as("max_abs_drift"),
        max(col("frame_no")).as("last_f"))
      .select(col("doc_id"), col("n_frames"), col("skew"),
        col("first_drift"), col("end_drift"), col("max_abs_drift"),
        when(col("last_f") > 0,
          r6((col("end_drift") - col("first_drift")).cast("double")
            / col("last_f").cast("double"))).as("drift_per_frame"),
        (col("max_abs_drift") > 520L).as("out_of_sync"))
      .orderBy("doc_id")
  }

  /** SRP BUCKET-DENSITY audit — the capacity telemetry for every
    * LSH-bucketed path in this module ([[simsearchLsh]] 8-bit,
    * [[dedupEmbeddingGlobal]] 16-bit): bucket population distribution,
    * the hottest bucket's skew vs the uniform expectation
    * (max·2^bits/n — 1.0 = perfectly balanced), and how much mass the
    * [[graft.ops.Dedup.LshBucketCap]] discipline would shed
    * (over-cap bucket count + excess rows). This is the query the
    * zipf-skew soak regime reads: under hot-label skew the 8-bit
    * buckets saturate first, and a skew_x that grows with corpus size
    * says "widen the key" before any pair join melts. Shape at scale:
    * two linear scans, each one map-side-combinable hash agg to a
    * ≤2^bits frame, then a one-row summary — no joins at all. */
  def simsearchBucketAudit(spark: SparkSession, dir: String): DataFrame = {
    def audit(bits: Int): DataFrame = {
      val bkt = concat_ws("", transform(slice(col("embedding"), 1, bits),
        x => when(x >= 0f, "1").otherwise("0")))
      val cap = graft.ops.Dedup.LshBucketCap.toLong
      emb(spark, dir).select(bkt.as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("sz")).as("n_vecs"),
          max(col("sz")).as("max_bucket"),
          sum((col("sz") > cap).cast("long")).as("n_over_cap"),
          sum(when(col("sz") > cap, col("sz") - cap).otherwise(0L))
            .as("capped_excess"))
        .select(lit(bits.toLong).as("srp_bits"), col("n_vecs"),
          col("n_buckets"), col("max_bucket"),
          r6(col("n_vecs").cast("double") / col("n_buckets").cast("double"))
            .as("avg_bucket"),
          r6(col("max_bucket").cast("double") * lit(math.pow(2.0, bits))
            / col("n_vecs").cast("double")).as("skew_x"),
          col("n_over_cap"), col("capped_excess"))
    }
    audit(8).unionByName(audit(16)).orderBy("srp_bits")
  }

  def multimodalFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"))
    d.select(col("doc_id"), col("text"), col("n"),
        explode(sequence(lit(0L), lit(3L))).as("frame_no"))
      .withColumn("step", floor(col("n") / 4).cast("long"))
      .filter(col("frame_no") === 0 || col("step") > 0)
      .withColumn("off", col("frame_no") * col("step") + 1)
      .filter(col("off") <= col("n"))
      .withColumn("frame", col("text").substr(col("off").cast("int"), lit(8)))
      .select(
        col("doc_id"), col("frame_no"), col("off"),
        length(col("frame")).cast("long").as("frame_len"),
        md5(col("frame").cast("binary")).as("frame_md5"),
        base64(col("frame").cast("binary")).as("frame_b64"))
      .orderBy("doc_id", "frame_no")
  }

  /** Threshold range search — the fixed-radius companion of
    * [[simsearchTopk]]: every corpus vector whose cosine with a probe
    * meets the threshold, not a fixed k. Same scale shape as top-k
    * (probes broadcast, corpus streams map-side, zero corpus shuffle)
    * but with no per-probe window at all — the filter IS the operator,
    * so the plan is one codegen'd map+filter. The threshold applies to
    * the r4-ROUNDED cosine so both engines cut on the identical value
    * (a raw-double cut can land on opposite sides of the boundary). */
  def simsearchRange(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding"), l2(col("embedding")).as("nrm"))
    val probes = e.orderBy("vec_id").limit(5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"))
    e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", r4(
        cosinePre(col("embedding"), col("p_emb"), col("nrm"), col("p_nrm"))))
      .filter(col("cos") >= 0.3)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy(col("probe_id"), desc("cos"), col("neighbor_id"))
  }

  /** GLOBAL embedding near-dup — [[dedupEmbedding]] with the `label`
    * blocking key dropped, closing the embedding family's cross-block
    * blindness the way `dedup_minhash_global`/`dedup_ngram_global` close
    * it for text: a near-identical vector pair split across labels now
    * pairs. Blocking without labels must come from the SIGNATURE alone,
    * so the SRP bucket WIDENS from 8 to 16 sign bits — the general rule
    * that global LSH blocking scales its key with corpus size (bucket
    * population ~ n/2^bits; at 10^9 vectors you'd widen again and/or
    * multi-table) — with the same Hamming-1 multiprobe for recall at the
    * wider key. The matchable side is additionally capped at the 256
    * lowest vec_ids per bucket (row_number, oracle-mirrored QUALIFY) —
    * the [[graft.ops.Dedup.LshBucketCap]] discipline, inactive at
    * fixture scale. Output: global top-10 most-similar candidate pairs
    * with their labels and a cross-label flag; a (cos, v1, v2) total
    * order + LIMIT plans as TakeOrderedAndProject — no global sort, no
    * unpartitioned window. */
  def dedupEmbeddingGlobal(spark: SparkSession, dir: String): DataFrame = {
    val srp16 = concat_ws("",
      transform(slice(col("embedding"), 1, 16), x => when(x >= 0f, "1").otherwise("0")))
    val e = emb(spark, dir)
      .withColumn("bucket", srp16)
      .withColumn("nrm", l2(col("embedding")))
    val capW = Window.partitionBy("bucket").orderBy("v2")
    val rhs = e.select(col("vec_id").as("v2"), col("label").as("lab2"),
        col("embedding").as("e2"), col("nrm").as("n2"), col("bucket"))
      .withColumn("rn", row_number().over(capW))
      .filter(col("rn") <= 256).drop("rn")
    val lhs = e.select(col("vec_id").as("v1"), col("label").as("lab1"),
        col("embedding").as("e1"), col("nrm").as("n1"), col("bucket"),
        explode(sequence(lit(0), lit(16))).as("i"))
      .select(col("v1"), col("lab1"), col("e1"), col("n1"),
        hamming1Variant(col("bucket"), col("i")).as("bucket"))
    // a pair collides through at most ONE probe variant (i=0 iff buckets
    // equal, else the single flipped position) — no distinct needed
    lhs.join(rhs, "bucket")
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        col("lab1").cast("long").as("label1"), col("lab2").cast("long").as("label2"),
        when(col("lab1") =!= col("lab2"), 1L).otherwise(0L).as("cross_label"),
        r4(cosinePre(col("e1"), col("e2"), col("n1"), col("n2"))).as("cos"))
      .orderBy(desc("cos"), col("v1"), col("v2"))
      .limit(10)
  }

  /** kNN SELF-JOIN — top-3 nearest neighbors for EVERY vector at once
    * (the batch operator semdedup/clustering pipelines run over the whole
    * corpus, vs [[simsearchTopk]]'s fixed probe set): 8-bit SRP buckets
    * with Hamming-1 multiprobe generate candidates as an equi join (every
    * query meets ≤ 17 buckets of ≤ 256 capped members — never the n²
    * pair space), exact cosine re-ranks, and the per-query top-3 runs
    * through the heap-based [[graft.plans.TopKPerKeyExec]] — no
    * corpus-sized window sort anywhere. A (v1, v2) pair collides through
    * at most one probe variant (v2 lives in exactly one bucket; the 9
    * variants are distinct strings), so no dedup pass is needed.
    * Cosines are r4-quantized BEFORE ranking so the rank order is
    * engine-independent at ties. */
  def simsearchKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val srp8 = concat_ws("",
      transform(slice(col("embedding"), 1, 8), x => when(x >= 0f, "1").otherwise("0")))
    val e = emb(spark, dir)
      .withColumn("bucket", srp8)
      .withColumn("nrm", l2(col("embedding")))
    val capW = Window.partitionBy("bucket").orderBy("v2")
    val rhs = e.select(col("vec_id").as("v2"), col("embedding").as("e2"),
        col("nrm").as("n2"), col("bucket"))
      .withColumn("rn", row_number().over(capW))
      .filter(col("rn") <= 256).drop("rn")
    val lhs = e.select(col("vec_id").as("v1"), col("embedding").as("e1"),
        col("nrm").as("n1"), col("bucket"),
        explode(sequence(lit(0), lit(8))).as("i"))
      .select(col("v1"), col("e1"), col("n1"),
        hamming1Variant(col("bucket"), col("i")).as("bucket"))
    val scored = lhs.join(rhs, "bucket")
      .filter(col("v1") =!= col("v2"))
      .select(col("v1"), col("v2"),
        r4(cosinePre(col("e1"), col("e2"), col("n1"), col("n2"))).as("cos"))
    graft.plans.TopK.topKPerKey(scored, Seq("v1"),
      Seq(graft.plans.TopK.Ord("cos", descending = true),
        graft.plans.TopK.Ord("v2")), 3)
      .orderBy(col("v1"), desc("cos"), col("v2"))
  }

  /** K-means ASSIGNMENT step — every vector labeled with its nearest of 8
    * fixed centroids (the 8 lowest vec_ids: deterministic seeding, same
    * convention as IVF/PQ training). This is the semantic-clustering
    * primitive a corpus pipeline runs between embedding and mixture
    * decisions (cluster-balanced sampling, per-cluster quality cuts), and
    * the inner step [[simsearchIvf]]'s Lloyd loop iterates. Shape at
    * scale: the centroid side is k·d values and BROADCASTS; the corpus
    * streams map-side through a codegen'd fused distance loop
    * ([[sqdist]]) + per-vector argmin — no corpus shuffle at any size,
    * the textbook k-means assignment plan. Tie-break: lowest centroid id
    * on equal (bit-identical) distances. */
  def clusterKmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("xd"))
    val cents = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("centroid_id"), col("xd").as("cd"))
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("sqd", sqdist(col("xd"), col("cd")))
    // argmin as min(struct(dist, id)) — a hash agg with map-side partials
    // (each vector's k candidate rows are born colocated, so the partial
    // agg collapses them before any shuffle), instead of a window that
    // would shuffle AND sort the k-times-expanded corpus. Struct ordering
    // = (sqd, centroid_id): lowest distance, lowest id on exact ties.
    scored.groupBy("vec_id")
      .agg(min(struct(col("sqd"), col("centroid_id"))).as("b"))
      .select(col("vec_id"), col("b.centroid_id").cast("long").as("centroid_id"),
        r6(col("b.sqd")).as("sqd"))
      .orderBy("vec_id")
  }

  /** Per-cluster matchable-member cap for [[clusterSemdedup]] — the
    * [[graft.ops.Dedup.LshBucketCap]] discipline applied to cluster
    * blocks: pairs are generated only among the cap lowest vec_ids of
    * each cluster, so per-cluster pair work is ≤ cap²/2 however large
    * the cluster. Members beyond the cap are counted but never paired —
    * they are always KEPT (semantic dedup trades exhaustive recall on
    * oversized clusters for bounded work; at corpus scale you raise k so
    * clusters stay near the cap, the SemDedup paper's own regime). */
  private[ops] val SemdedupCap = 256

  /** Oracle twin of [[semPairFrame]]: the c/a/k/p CTE chunk ending in
    * `p(cl, v1, v2, cos)` — shared by the `cluster_semdedup` and
    * `dedup_cascade_audit` oracles. */
  private[ops] lazy val semPairCtesSql: String =
    s"""c AS (SELECT vec_id AS centroid_id, embedding AS ce
             FROM embeddings ORDER BY vec_id LIMIT 8),
         a AS (SELECT vec_id, embedding, cl FROM (
             SELECT e.vec_id, e.embedding, c.centroid_id AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(e.embedding)+1),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)))),
                 c.centroid_id) AS rn
             FROM embeddings e, c) WHERE rn = 1),
         k AS (SELECT cl, vec_id, embedding FROM (
             SELECT cl, vec_id, embedding,
               row_number() OVER (PARTITION BY cl ORDER BY vec_id) AS rn
             FROM a) WHERE rn <= $SemdedupCap),
         p AS (SELECT a1.cl, a1.vec_id AS v1, a2.vec_id AS v2,
             ${r4Sql(cosSql("a1.embedding", "a2.embedding"))} AS cos
           FROM k a1 JOIN k a2 ON a1.cl = a2.cl AND a1.vec_id < a2.vec_id)"""

  /** SemDedup — cluster-then-prune semantic deduplication (Abbas et al.
    * 2023, public): k-means clusters the corpus, then near-duplicate
    * PAIRS are sought only within a cluster (cross-cluster pairs are by
    * construction far). Assignment reuses [[clusterKmeansAssign]]'s
    * broadcast-argmin (map-side partial agg, no window over the corpus);
    * within each cluster the pair join keys on the cluster id with BOTH
    * sides capped ([[SemdedupCap]]) — bounded work per cluster, the
    * sweep-asserted block-cap discipline. A member is REMOVED when it
    * has a ≥ τ cosine pair with a lower vec_id (keep-lowest, the
    * deterministic representative rule); τ = 0.30 sits at the fixture's
    * p99 intra-cluster cosine so the prune is selective, and applies to
    * the r4-ROUNDED cosine so both engines cut identically. Output is
    * one bounded accounting row per cluster. */
  /** The k-means assignment step of SemDedup, shared with the cascade
    * audit (`dedup_cascade_audit`): (vec_id, embedding, cl). */
  private[ops] def semAssigned(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"),
      col("embedding").cast("array<double>").as("xd"))
    val cents = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("centroid_id"), col("xd").as("cd"))
    e.crossJoin(broadcast(cents))
      .withColumn("sqd", sqdist(col("xd"), col("cd")))
      .groupBy("vec_id")
      .agg(first(col("embedding")).as("embedding"),
        min(struct(col("sqd"), col("centroid_id"))).as("b"))
      .select(col("vec_id"), col("embedding"),
        col("b.centroid_id").cast("long").as("cl"))
  }

  /** The capped within-cluster pair frame of SemDedup — (cl, v1, v2,
    * cos) with v1 < v2 and the r4-rounded cosine — ONE definition shared
    * by [[clusterSemdedup]] and the cascade audit so the pair rule
    * cannot drift between them. */
  private[ops] def semPairFrame(spark: SparkSession, dir: String): DataFrame = {
    val assigned = semAssigned(spark, dir)
    val w = Window.partitionBy("cl").orderBy("vec_id")
    val capped = assigned.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SemdedupCap)
      .withColumn("nrm", l2(col("embedding")))
    capped.select(col("cl"), col("vec_id").as("v1"),
        col("embedding").as("e1"), col("nrm").as("n1"))
      .join(capped.select(col("cl"), col("vec_id").as("v2"),
        col("embedding").as("e2"), col("nrm").as("n2")), Seq("cl"))
      .filter(col("v1") < col("v2"))
      .withColumn("cos", r4(cosinePre(col("e1"), col("e2"), col("n1"), col("n2"))))
      .select("cl", "v1", "v2", "cos")
  }

  def clusterSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val assigned = semAssigned(spark, dir)
    val memb = assigned.groupBy("cl").agg(count(lit(1)).as("n_members"))
    val pairs = semPairFrame(spark, dir)
      .withColumn("dup", col("cos") >= 0.30)
    val stats = pairs.groupBy("cl").agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_pairs"),
      countDistinct(when(col("dup"), col("v2"))).as("n_removed"),
      min(when(col("dup"), col("v2"))).as("first_removed"),
      max(col("cos")).as("max_cos"))
    memb.join(stats, Seq("cl"), "left")
      .select(col("cl"), col("n_members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("n_members") - coalesce(col("n_removed"), lit(0L))).as("n_kept"),
        col("first_removed"), col("max_cos"))
      .orderBy("cl")
  }

  /** Diagonal (per-dimension) whitening — the standardization step in
    * front of ANN/clustering when dimensions carry unequal variance:
    * z_i = (v_i − μ_i)/σ_i, reported per vector as pre/post L2 norms
    * and the largest squared z (the dimension-outlier signal). Two-pass
    * build/serve split: the STATS pass is one posexplode into a d-group
    * aggregate (map-side partials; v quantized to DECIMAL(12,10) so the
    * float sums are order-independent — [[embeddingAvgPool]]'s trick,
    * squared inside the decimal domain for Σv²); the d×(n,Σ,Σ²) rows
    * are a bounded driver collect (the MLlib centroid pattern), and the
    * SERVE pass is a zero-shuffle, zero-join per-row `transform` over
    * broadcast-literal μ/σ arrays inside codegen. Exactness: per-dim
    * z² terms are r6-fixed to DECIMAL(16,6) before the per-vector fold,
    * so the sums don't depend on fold order; μ/σ are IEEE-identical on
    * both engines (exact decimal → double division, greatest(·,1e-12)
    * variance floor). */
  def embeddingWhiten(spark: SparkSession, dir: String): DataFrame = {
    val d190 = DecimalType(19, 0)
    // per-dim values quantized IN DOUBLE to integer 1e-10 units
    // (floor(x·1e10 + 0.5)) — a direct float→DECIMAL cast diverges
    // between engines (DuckDB converts through float math; the sf1
    // sweep caught the resulting 1-ulp µ/σ drift as an r4 flip in
    // l2_after); (19,0) factors force DuckDB's int128 multiply
    val q = floor(col("v").cast("double") * lit(1e10) + lit(0.5)).cast(d190)
    val stats = emb(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum(q).as("s"), sum(q * q).as("ss"))
      .orderBy("pos")
      .collect() // bounded: d rows — the centroid pattern
    // driver-side moments bridged via [[Util.dec2dD]] (the exact
    // BigDecimal→double is correctly rounded; DuckDB's int128 float
    // path is not past 2^53 — the dec2d class, driver spelling)
    val mu = stats.map(r =>
      Util.dec2dD(r.getDecimal(2), 10) / r.getLong(1).toDouble)
    val sg = stats.zip(mu).map { case (r, m) =>
      math.sqrt(math.max(
        Util.dec2dD(r.getDecimal(3), 20) / r.getLong(1).toDouble - m * m,
        1e-12))
    }
    emb(spark, dir)
      .withColumn("m", array(mu.toIndexedSeq.map(lit): _*))
      .withColumn("sd", array(sg.toIndexedSeq.map(lit): _*))
      .withColumn("zt", expr(
        "transform(embedding, (v, i) -> CAST(floor(" +
          "((CAST(v AS DOUBLE) - m[i]) / sd[i]) * ((CAST(v AS DOUBLE) - m[i]) / sd[i])" +
          " * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(16,6)))"))
      .withColumn("vt", expr(
        "transform(embedding, v -> CAST(floor(" +
          "CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0" +
          " AS DECIMAL(16,6)))"))
      .select(col("vec_id"),
        r4(sqrt(expr("aggregate(vt, CAST(0 AS DECIMAL(26,6))," +
          " (a, x) -> CAST(a + x AS DECIMAL(26,6)))").cast("double"))).as("l2_before"),
        r4(sqrt(expr("aggregate(zt, CAST(0 AS DECIMAL(26,6))," +
          " (a, x) -> CAST(a + x AS DECIMAL(26,6)))").cast("double"))).as("l2_after"),
        r4(sqrt(expr("array_max(zt)").cast("double"))).as("z_max"))
      .orderBy("vec_id")
  }

  /** FILTERED ANN — the "vector search WHERE label = x" query every
    * production vector store names as a feature: top-3 same-label
    * neighbors for the 10 lowest-id probes. The metadata predicate is
    * pushed INTO candidate generation, not applied after: the candidate
    * join is keyed on (SRP bucket, label) — the filter partitions the
    * index, so a probe never touches the ~90% of each bucket with the
    * wrong label (post-filtering an unfiltered top-k would instead
    * return < k survivors). [[simsearchKnnJoin]]'s machinery otherwise:
    * Hamming-1 multiprobe on the probe side, 256-cap per
    * (bucket, label) cell on the corpus side (state-bounded), heap
    * top-k via the custom exec — and the bucket key keeps the join
    * high-cardinality (never a label-only block join). */
  def simsearchFiltered(spark: SparkSession, dir: String): DataFrame = {
    val srp8 = concat_ws("",
      transform(slice(col("embedding"), 1, 8), x => when(x >= 0f, "1").otherwise("0")))
    val e = emb(spark, dir)
      .withColumn("bucket", srp8)
      .withColumn("nrm", l2(col("embedding")))
    val capW = Window.partitionBy("bucket", "label").orderBy("v2")
    val rhs = e.select(col("vec_id").as("v2"), col("embedding").as("e2"),
        col("nrm").as("n2"), col("bucket"), col("label"))
      .withColumn("rn", row_number().over(capW))
      .filter(col("rn") <= 256).drop("rn")
    val lhs = e.orderBy("vec_id").limit(10)
      .select(col("vec_id").as("v1"), col("embedding").as("e1"),
        col("nrm").as("n1"), col("bucket"), col("label"),
        explode(sequence(lit(0), lit(8))).as("i"))
      .select(col("v1"), col("e1"), col("n1"), col("label"),
        hamming1Variant(col("bucket"), col("i")).as("bucket"))
    val scored = lhs.join(rhs, Seq("bucket", "label"))
      .filter(col("v1") =!= col("v2"))
      .select(col("v1"), col("label").cast("long").as("label"), col("v2"),
        r4(cosinePre(col("e1"), col("e2"), col("n1"), col("n2"))).as("cos"))
    graft.plans.TopK.topKPerKey(scored, Seq("v1"),
      Seq(graft.plans.TopK.Ord("cos", descending = true),
        graft.plans.TopK.Ord("v2")), 3)
      .orderBy(col("v1"), desc("cos"), col("v2"))
  }

  /** Grid-density clustering (grid DBSCAN) over the first two embedding
    * dimensions — the density-based sibling of [[clusterKmeansAssign]]
    * that needs no k and marks sparse regions as noise. Points quantize
    * to eps-cells; cells with ≥ minPts points are CORE; clusters are
    * connected components of 8-adjacent core cells (the cell graph is
    * the standard O(n) surrogate for DBSCAN's ε-graph); everything
    * outside a core cell is noise. Shape at scale: one hash agg
    * corpus→cells (the frame is DOMAIN-bounded: ≤ (range/eps)² cells,
    * not corpus-sized); adjacency is a 9-key self equi join of the
    * CORE cell set — never point-pairs; components run on the DRIVER
    * over the collected cell graph — a BOUNDED collect (the k·d
    * centroid pattern): the cell frame is ≤ (2/eps)² = 625 rows by the
    * unit-norm coordinate domain, at ANY corpus size, so a distributed
    * fixpoint would spend whole Spark jobs on a structure smaller than
    * one task's overhead (an unbounded-domain variant would swap this
    * for [[Dedup.ccLargeSmallStar]]). Exactness: floor(x/eps) on
    * float→double exact casts is the same IEEE divide both engines;
    * everything after is integer. */
  def clusterDbscanGrid(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.08; val minPts = 4
    def cellOf(i: Int) = floor(
      element_at(col("embedding"), i).cast("double") / lit(eps)).cast("long")
    val cells = table(spark, dir, "embeddings")
      .select(((cellOf(1) + 100L) * 1000L + (cellOf(2) + 100L)).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_pts"))
    val core = cells.filter(col("n_pts") >= minPts)
    // bounded collect (≤625 rows — domain bound above); 8-neighborhood
    // union-find on the driver. The cell encoding is collision-free
    // while |cy+100| < 1000, i.e. any coordinate the unit-norm
    // embedding domain can reach.
    val coreCells = core.select(col("cell")).collect().map(_.getLong(0))
    val coreSet = coreCells.toSet
    val parent = scala.collection.mutable.Map(coreCells.map(c => c -> c): _*)
    def find(c: Long): Long = {
      var r = c; while (parent(r) != r) r = parent(r)
      var x = c
      while (parent(x) != r) { val nx = parent(x); parent(x) = r; x = nx }
      r
    }
    for (c <- coreCells; dx <- -1 to 1; dy <- -1 to 1 if (dx, dy) != (0, 0)) {
      val nb = c + dx * 1000L + dy
      if (coreSet.contains(nb)) {
        val (ra, rb) = (find(c), find(nb))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val rootOf = coreCells.map(c => c -> find(c)).toMap
    // ≤625-entry literal map lookup — a codegen'd expression (no UDF,
    // no join): keeps the tiny cell frame single-stage
    val rooted =
      if (rootOf.isEmpty) core.withColumn("root", col("cell"))
      else core.withColumn("root",
        element_at(typedLit(rootOf), col("cell")))
    val clusters = rooted.groupBy("root")
      .agg(count(lit(1)).as("n_cells"), sum(col("n_pts")).as("n_pts"))
      .select(concat_ws(":", expr("root DIV 1000") - 100,
        pmod(col("root"), lit(1000L)) - 100).as("label"),
        col("n_cells"), col("n_pts"))
    val noise = cells.filter(col("n_pts") < minPts)
      .groupBy().agg(count(lit(1)).as("n_cells"),
        coalesce(sum(col("n_pts")), lit(0L)).as("n_pts"))
      .select(lit("noise").as("label"), col("n_cells"), col("n_pts"))
    clusters.unionByName(noise)
      .orderBy(desc("n_pts"), col("label"))
  }

  /** Maximum-inner-product search (MIPS) — the recommender-serving
    * sibling of [[simsearchTopk]]: corpus vectors carry VARYING norms
    * (item popularity priors; here a deterministic per-label weight
    * w = 1 + (label mod 5)/4 since the fixture vectors are unit-norm),
    * so argmax x·q ≠ argmax cos(x,q) and cosine machinery can't serve
    * it directly. Exact path: score every corpus vector against the 10
    * broadcast probes and keep top-5 per probe through
    * [[graft.plans.TopK.topKPerKey]] — a bounded-heap corpus scan with
    * ZERO corpus shuffle (the rank window runs only over the ≤50
    * surviving rows). Scale path (documented, not needed at this
    * corpus): the standard norm-augmentation reduction — append
    * √(M²−‖x‖²) to x and 0 to q (M = max norm) and MIPS becomes
    * cosine NN in d+1 dims, so the SRP-bucket equi join of
    * [[simsearchLsh]] applies unchanged. Exactness: the weight
    * multiplies the FUSED dot's result once (w·Σxq — one IEEE mul,
    * spelled identically in the oracle), r4 BEFORE ranking. */
  def simsearchMips(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding"),
        (lit(1.0) + pmod(col("label"), lit(5)).cast("double") / lit(4.0))
          .as("w"))
    val probes = e.orderBy("vec_id").limit(10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("ip", r4(dot(col("embedding"), col("p_emb")) * col("w")))
      .select(col("probe_id"), col("vec_id"), col("ip"))
    val top = graft.plans.TopK.topKPerKey(scored, Seq("probe_id"),
      Seq(graft.plans.TopK.Ord("ip", descending = true),
        graft.plans.TopK.Ord("vec_id")), 5)
    val w5 = Window.partitionBy("probe_id").orderBy(desc("ip"), col("vec_id"))
    top.withColumn("rk", row_number().over(w5).cast("long"))
      .select(col("probe_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("ip"))
      .orderBy("probe_id", "rk")
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the modern
    * two-retriever serving shape: a lexical BM25 list (the fixed 5-term
    * query of `text_bm25`, aggregated per doc) and a dense cosine list
    * (lowest-vec_id probe; fixture convention: vec_id keys the
    * embedding of doc doc_id where present) each retrieve top-50;
    * RRF(d) = Σ 1/(60+rankᵢ(d)) fuses them, absent-list contribution 0
    * (the standard Cormack et al. constant). Shape at scale: each side
    * ends in TakeOrdered(50) — no global rank window, no corpus sort;
    * the rank row_numbers run over the two 50-row frames and the
    * fusion is a full-outer join of two 50-row sets. Exactness: BM25
    * per-(doc,term) scores r6→DECIMAL before the per-doc sum; cosine
    * r6 BEFORE ranking; RRF ranks are exact integers so the fused
    * score is the identical IEEE tree both engines. */
  def simsearchRrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    // The lexical leg SERVES from the persisted postings index
    // (Text.bm25IndexDocScores — bit-identical to the former inline
    // corpus scoring: same r6 per-term scores, same decimal sum) — at
    // 100× the indexed serve measured 8.8× faster than re-scoring the
    // corpus per query (SOAK_r9 §9), which is the whole point of a
    // two-retriever serving stack.
    val bmTop = graft.ops.Text.bm25IndexDocScores(spark, dir)
      .select(col("doc_id"), col("score").as("bm"))
      .orderBy(desc("bm"), col("doc_id")).limit(50)
    val bmRank = bmTop
      .withColumn("rb", row_number()
        .over(Window.orderBy(desc("bm"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rb"))
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"),
      l2(col("embedding")).as("nrm"))
    val probe = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("nrm").as("pn"))
    val cs = e.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= col("pid"))
      .withColumn("c", r6(cosinePre(col("embedding"), col("pe"),
        col("nrm"), col("pn"))))
    val vRank = cs.orderBy(desc("c"), col("vec_id")).limit(50)
      .withColumn("rv", row_number()
        .over(Window.orderBy(desc("c"), col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("rv"))
    val rrf = r6(
      coalesce(lit(1.0) / (lit(60.0) + col("rb").cast("double")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60.0) + col("rv").cast("double")), lit(0.0)))
    bmRank.join(vRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rb").as("rank_bm25"),
        col("rv").as("rank_vec"), rrf.as("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))
      .limit(10)
  }

  /** Spatial RADIUS join via grid decomposition — the 2D-join analog of
    * [[clusterDbscanGrid]]'s cell trick: two point sets (even/odd
    * vec_id halves over the first two embedding dims) joined on
    * distance ≤ r, decomposed as an EQUI join on quantized cells with
    * 3×3 neighbor probing. Cell size = r guarantees every qualifying
    * pair shares a (cell, neighbor-cell) key, so the equi join finds
    * EXACTLY the brute-force result — which is what the oracle
    * computes, knowing nothing about the grid. Shape at scale: probe
    * side fans out 9 keys/point, build side one — one hash shuffle on
    * the cell key, pair work bounded by per-cell density, never |A|·|B|
    * (the brute-force cross join the oracle can afford only at fixture
    * scale). Exactness: squared distance compared UNROOTED (one IEEE
    * expression both engines, no sqrt in the predicate); output
    * distance and its ordering go through r6 with id tie-breaks. */
  def joinSpatialGrid(spark: SparkSession, dir: String): DataFrame = {
    val r = 0.05
    val e = emb(spark, dir).select(col("vec_id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    def cellId(cx: Column, cy: Column) = (cx + 100L) * 1000L + (cy + 100L)
    val build = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      .withColumn("cell", cellId(floor(col("x") / lit(r)).cast("long"),
        floor(col("y") / lit(r)).cast("long")))
      .select(col("cell"), col("vec_id").as("b_id"),
        col("x").as("bx"), col("y").as("by"))
    val offsets = array((-1 to 1).flatMap(dx =>
      (-1 to 1).map(dy => lit(dx * 1000L + dy))): _*)
    val probe = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      .withColumn("c0", cellId(floor(col("x") / lit(r)).cast("long"),
        floor(col("y") / lit(r)).cast("long")))
      .select(col("vec_id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
        col("c0"), explode(offsets).as("off"))
      .select(col("a_id"), col("ax"), col("ay"),
        (col("c0") + col("off")).as("cell"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    probe.join(build, "cell")
      .filter(d2 <= lit(r * r))
      .select(col("a_id"), col("b_id"), r6(sqrt(d2)).as("dist"))
      .orderBy("dist", "a_id", "b_id")
      .limit(100)
  }

  /** Top principal direction of the embedding corpus by POWER ITERATION —
    * uncentered PCA (the dominant eigenvector of Σxxᵀ; the corpus is
    * unit-norm and near-isotropic, so the mean term is negligible and
    * skipping it keeps every pass a single agg). Eight fixed iterations;
    * each is ONE distributed job: s_i = Σ_x x_i·(x·v) for i=1..64 as 64
    * map-side-combined sum aggregates over one scan — never a d×d
    * covariance materialization (4 096 aggregate columns at d=64 is
    * already codegen-hostile; at d=4 096 it's 16M — the data-side
    * matrix-free iteration is the shape that survives real embedding
    * widths). Driver state is the 64-double v (the Lloyd-centroid
    * discipline: k·d values, nothing data-sized). Determinism: each
    * per-row term is floor-rounded at 1e-12 and summed as DECIMAL(26,12)
    * (order-independent); v's update divides by a norm folded in fixed
    * ascending-dim order and is itself floor-rounded, so both engines
    * walk the identical v sequence. Output: top-20 docs by first-PC
    * score + the Rayleigh eigenvalue estimate. */
  def embeddingPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir).select(col("vec_id"), col("embedding"))
    // ONE corpus pass (round 13 — the rewrite's whole point: the old
    // spelling ran 8 power iterations as 8 full-corpus aggregates, i.e.
    // 8 corpus READS at 100 TB; the Gram matrix makes the data pass a
    // constant): the upper-triangle d×d Gram G_ij = Σ_rows x_i·x_j,
    // each product quantized IN DOUBLE to exact 1e-6 integer units
    // (|q| ≤ 1e6, so the long sum is exact to ~9e12 rows) and
    // accumulated by the native element-wise [[graft.functions
    // .LongVecSumAgg]] — one mutable long[2080] per group, map-side
    // partials, one blob per partition on the shuffle. (The explode +
    // groupBy(cell) spelling was measured 2.9 s at sf0.1 — 2080
    // generator rows and a hash-agg probe PER INPUT ROW; the vector
    // accumulator does the identical math at ~0.5 s.) The 2080-cell
    // result is a one-row driver collect (the MLlib centroid pattern).
    val gramArr = corpus
      .select(expr(
        """flatten(transform(sequence(1, 64), i ->
             transform(sequence(i, 64), j ->
               CAST(floor(CAST(element_at(embedding, i) AS DOUBLE)
                 * CAST(element_at(embedding, j) AS DOUBLE)
                 * 1e6 + 0.5) AS BIGINT))))""").as("qs"))
      .agg(graft.functions.LongVecSumAgg.longVecSum(col("qs")).as("g"))
      .collect()(0).getAs[scala.collection.Seq[Long]]("g")
    // Full symmetric G as doubles: long → double is one correctly
    // rounded conversion and /1e6 one IEEE division, both
    // engine-identical (the oracle casts its BIGINT sums the same way).
    val G = Array.ofDim[Double](64, 64)
    var ki = 0
    for (i <- 0 until 64; j <- i until 64) {
      val gd = gramArr(ki).toDouble / 1e6
      G(i)(j) = gd; G(j)(i) = gd
      ki += 1
    }
    // 8 driver-side power iterations over the 64×64 matrix — microseconds
    // where the old spelling paid 8 distributed jobs. Matvec terms are
    // quantized to exact 1e-6 integer units and summed as longs (64
    // terms), so every step is engine-identical; v re-quantizes at
    // 1e-12 per round as before. The long accumulator is exact only
    // while every |G(i)(j)·v(j)·1e6| stays < Long.Max/64 — G entries
    // grow linearly with row count, so past ~1e9 rows the sum would
    // wrap SILENTLY. Assert the bound loudly instead (r13 ADVICE): the
    // fix at that scale is a wider quantization unit, not BigInt in
    // the hot loop.
    val gMax = G.iterator.flatMap(_.iterator.map(math.abs)).max
    require(gMax * 1e6 < Long.MaxValue / 64.0,
      s"pca_power matvec long accumulator would overflow: max|G|=$gMax " +
        "(corpus too large for the 1e-6 integer-unit matvec; widen the unit)")
    var v = Array.fill(64)(0.125) // 1/sqrt(64), exact
    var eig = 0.0
    for (_ <- 1 to 8) {
      val s = (0 until 64).map { i =>
        var acc = 0L
        var j = 0
        while (j < 64) {
          acc += math.floor(G(i)(j) * v(j) * 1e6 + 0.5).toLong; j += 1
        }
        acc.toDouble / 1e6
      }.toArray
      val norm = math.sqrt(s.foldLeft(0.0)((acc, x) => acc + x * x))
      eig = norm
      v = s.map(x => math.floor(x / norm * 1e12 + 0.5) / 1e12)
    }
    // Scoring pass (the second and last corpus read): v as DATA, the
    // zip_with+aggregate left fold — IEEE-identical to the oracle's
    // list_sum(list_transform(...)).
    def vDf(vv: Array[Double]) = {
      import spark.implicits._
      Seq(Tuple1(vv.toSeq)).toDF("v")
    }
    def dp: Column = aggregate(
      zip_with(col("embedding"), col("v"), (x, y) => x.cast("double") * y),
      lit(0.0), (acc, x) => acc + x)
    corpus.crossJoin(broadcast(vDf(v)))
      .select(col("vec_id"), r6(dp).as("pc1_score"),
        lit(math.floor(eig * 1e6 + 0.5) / 1e6).as("eigval"))
      .orderBy(desc("pc1_score"), col("vec_id")).limit(20)
  }

  /** Perceptual-hash near-dup over opaque BINARY payloads — the
    * multimodal twin of [[graft.ops.Dedup]]'s SimHash: a 60-bit content
    * hash per payload (STUB: sha256 prefix, standing in for a real
    * DCT/pHash — the real thing drops into the same column), banded into
    * 4×15-bit blocks for candidate generation (any shared band →
    * candidate, the standard Hamming-LSH decomposition: distance ≤ 3
    * GUARANTEES a shared band by pigeonhole), then popcount-verified
    * (`bit_count(xor)`) at threshold 12. Shape at scale: banding is a
    * 4-row explode + capped bucket self-join (row_number ≤ 64 per
    * bucket, replayed in the oracle) — never all-pairs over payloads;
    * the verify touches only candidates. With the stub hash only exact
    * payload duplicates land within threshold — the fixture's planted
    * dups — while a real pHash makes the SAME plan find visually-near
    * images. */
  def multimodalPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val blob = col("text").cast("binary")
    val d = table(spark, dir, "documents")
      .select(col("doc_id"),
        conv(substring(sha2(blob, 256), 1, 15), 16, 10).cast("long").as("ph"))
    val bands = (0 until 4).map(j => struct(lit(j).as("b"),
      (shiftright(col("ph"), 15 * j).bitwiseAND(lit(32767L))).as("v")))
    val w = Window.partitionBy("b", "v").orderBy("doc_id")
    val capped = d
      .select(col("doc_id"), col("ph"), explode(array(bands: _*)).as("bv"))
      .select(col("doc_id"), col("ph"), col("bv.b").as("b"), col("bv.v").as("v"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 64)
    val cand = capped.alias("a")
      .join(capped.alias("x"),
        col("a.b") === col("x.b") && col("a.v") === col("x.v") &&
          col("a.doc_id") < col("x.doc_id"))
      .select(col("a.doc_id").as("d1"), col("a.ph").as("p1"),
        col("x.doc_id").as("d2"), col("x.ph").as("p2"))
      .distinct()
    // no hard threshold filter: at small SFs the fixture may hold zero
    // planted dups and a thresholded output would pass vacuously (the
    // round-2 join_anti lesson); ranking ALL candidates by distance with
    // the threshold as a flag keeps the gate non-vacuous everywhere
    // while exact dups (hamming 0) still surface first
    cand
      .withColumn("hamming",
        expr("bit_count(p1 ^ p2)").cast("long"))
      .select(col("d1"), col("d2"), col("hamming"),
        (col("hamming") <= 12).as("within_threshold"))
      .orderBy("hamming", "d1", "d2").limit(20)
  }

  /** Simplified (centroid-based) silhouette for the k-means clustering
    * — the cluster-quality readout [[clusterKmeansAssign]] lacks: per
    * member, a = distance to its OWN centroid, b = distance to the
    * nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1]; negative s
    * means the member sits closer to a foreign centroid than its own
    * (misassigned under this k). The full silhouette's O(n²) pairwise
    * distances are replaced by the centroid form, which is the ONLY
    * silhouette that scales: k·d centroids broadcast, the corpus
    * streams map-side through the fused [[sqdist]] loop, and the two
    * smallest of each member's k distances come from a sorted
    * k-element collect (bounded by k, never by corpus). Per-cluster
    * means ride r6-floored DECIMAL(20,6) sums (order-independent). */
  def clusterSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val d206 = org.apache.spark.sql.types.DecimalType(20, 6)
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("xd"))
    val cents = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("centroid_id"), col("xd").as("cd"))
    val two = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(sqdist(col("xd"), col("cd")).as("sqd"),
          col("centroid_id").as("cid")).as("sc"))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(col("sc"))).as("arr"))
      .select(col("vec_id"),
        col("arr").getItem(0).getField("cid").as("cid"),
        sqrt(col("arr").getItem(0).getField("sqd")).as("av"),
        sqrt(col("arr").getItem(1).getField("sqd")).as("bv"))
    val sil = two.select(col("cid"),
      r6(when(greatest(col("av"), col("bv")) > 0,
        (col("bv") - col("av")) / greatest(col("av"), col("bv")))
        .otherwise(lit(0.0))).as("s"))
    sil.groupBy(col("cid").cast("long").as("centroid_id"))
      .agg(count(lit(1)).as("n"),
        r6(sum(col("s").cast(d206)).cast("double") /
          count(lit(1)).cast("double")).as("mean_sil"),
        r6(min(col("s"))).as("min_sil"),
        r6(count(when(col("s") < 0, 1)).cast("double") /
          count(lit(1)).cast("double")).as("share_neg"))
      .orderBy("centroid_id")
  }

  /** Johnson–Lindenstrauss random projection 64 → 16 dims with a
    * DISTORTION AUDIT — the dimensionality-reduction primitive that
    * makes downstream ANN/cluster passes 4× cheaper, plus the evidence
    * you may actually rely on it: per vector, the JL ratio
    * ‖Gx‖²/(d'·‖x‖²) (expectation 1 under the lemma), reported as
    * corpus stats. The projection matrix is SEEDED pseudo-Gaussian —
    * Irwin–Hall: each g(k,d) is the sum of 12 md5 uniforms minus 6
    * (variance 1, pure arithmetic, so both engines derive the
    * IDENTICAL matrix; no Box–Muller trig-parity risk). Shape at
    * scale: the 16×64 matrix is model-sized and broadcasts; each
    * projection is a fixed-order fold (left-to-right, the
    * list_sum-parity spelling); per-vector norms ride r6-floored
    * DECIMAL(20,6) sums so the 16-term reduction is order-free. */
  def embeddingJlProject(spark: SparkSession, dir: String): DataFrame = {
    val d206 = org.apache.spark.sql.types.DecimalType(20, 6)
    val u01 = (k: Column, d: Column, j: Column) =>
      conv(substring(md5(concat_ws("|", lit("jl"), k, d, j)
        .cast("binary")), 1, 15), 16, 10)
        .cast("double") / lit(1152921504606846976.0)
    val g = spark.range(16).toDF("k")
      .select(col("k"), transform(sequence(lit(0), lit(63)), d =>
        aggregate(transform(sequence(lit(1), lit(12)),
          j => u01(col("k"), d, j)),
          lit(0.0), (acc, v) => acc + v) - lit(6.0)).as("gv"))
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("xd"))
    val proj = e.crossJoin(broadcast(g))
      .select(col("vec_id"),
        aggregate(zip_with(col("xd"), col("gv"), (a, b) => a * b),
          lit(0.0), (acc, v) => acc + v).as("p"))
    val np = proj.groupBy("vec_id")
      .agg(sum(r6(col("p") * col("p")).cast(d206)).as("np2"))
    val nx = e.select(col("vec_id"),
      aggregate(zip_with(col("xd"), col("xd"), (a, b) => a * b),
        lit(0.0), (acc, v) => acc + v).as("nx2"))
    val rat = np.join(nx, "vec_id")
      .select(r6(col("np2").cast("double") / (lit(16.0) * col("nx2")))
        .as("ratio"))
    rat.agg(count(lit(1)).as("n_vectors"),
      r6(sum(col("ratio").cast(d206)).cast("double") /
        count(lit(1)).cast("double")).as("mean_ratio"),
      r6(min(col("ratio"))).as("min_ratio"),
      r6(max(col("ratio"))).as("max_ratio"),
      r6(count(when(col("ratio").between(0.8, 1.2), 1)).cast("double") /
        count(lit(1)).cast("double")).as("share_within_20pct"))
  }

  /** Per-label embedding-distribution drift between two corpus halves
    * (vec_id parity as the deterministic "batch A vs batch B" split) —
    * the monitoring primitive behind "did this class's embedding space
    * move between snapshots": per label, the half-centroids' cosine
    * (directional drift) and L2 shift (magnitude drift), plus both
    * half counts so a reader can discount small-sample labels. Shape:
    * posexplode to (label, half, dim) → ONE hash agg of r6-floored
    * decimal sums (map-side combined, 64·labels·2 rows — model-sized
    * at any corpus scale), per-dim means pair by dim, the three
    * cosine moments reduce per label. No centroid ever materializes on
    * the driver. */
  def embeddingLabelDrift(spark: SparkSession, dir: String): DataFrame = {
    val d206 = org.apache.spark.sql.types.DecimalType(20, 6)
    val e = emb(spark, dir).select(col("label"), (col("vec_id") % 2).as("half"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
    val dims = e.groupBy(col("label"), col("half"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(r6(col("v").cast("double")).cast(d206)).cast("double").as("s"))
      .select(col("label"), col("half"), col("pos"),
        col("n"), (col("s") / col("n").cast("double")).as("m"))
    val paired = dims.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("m").as("m0"), col("n").as("n0"))
      .join(dims.filter(col("half") === 1)
        .select(col("label"), col("pos"), col("m").as("m1"), col("n").as("n1")),
        Seq("label", "pos"))
    paired.groupBy(col("label").cast("long").as("label"))
      .agg(max(col("n0")).as("n_first"), max(col("n1")).as("n_second"),
        sum(r6(col("m0") * col("m1")).cast(d206)).cast("double").as("s01"),
        sum(r6(col("m0") * col("m0")).cast(d206)).cast("double").as("s00"),
        sum(r6(col("m1") * col("m1")).cast(d206)).cast("double").as("s11"),
        sum(r6((col("m0") - col("m1")) * (col("m0") - col("m1")))
          .cast(d206)).cast("double").as("sd"))
      .select(col("label"), col("n_first"), col("n_second"),
        // r6 can floor a near-zero-mean centroid's moments to exactly 0,
        // and 0/0 is engine-specific (Spark NULL vs DuckDB NaN) — NULL
        // ("no direction to compare") on both engines instead
        r6(when(col("s00") > 0d && col("s11") > 0d,
          col("s01") / (sqrt(col("s00")) * sqrt(col("s11")))))
          .as("cos_between_halves"),
        r6(sqrt(col("sd"))).as("shift_l2"))
      .orderBy("label")
  }

  /** Nearest-centroid label probe — the cheap supervised eval of an
    * embedding space ("linear probe lite"): per label, the exact
    * per-dim mean centroid; every vector is classified to its nearest
    * centroid (leave-self-in) and per-label accuracy is reported. High
    * accuracy = the space linearly separates the labels; chance-level
    * = the labels carry no geometry (which is the honest answer on
    * THIS synthetic corpus — the spec plants a separable fixture to
    * pin accuracy 1.0). Shape: centroids via posexplode + one hash agg
    * (64·labels rows), collected as the k·d driver state (Lloyd
    * discipline) and broadcast back as DATA (plan-constancy lesson);
    * classification is a map-only `array_min`/`array_position` over
    * the centroid list; one per-label agg. Ties break to the lowest
    * label on both engines (first-min position ≡ ORDER BY dist,
    * label). */
  def clusterCentroidClassify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d206 = org.apache.spark.sql.types.DecimalType(20, 6)
    val e = emb(spark, dir).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("xd"))
    val dims = e.select(col("label"), posexplode(col("xd")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"),
        sum(r6(col("v")).cast(d206)).cast("double").as("s"))
      .select(col("label"), col("pos"),
        (col("s") / col("n").cast("double")).as("m"))
      .collect()
    val cents = dims.groupBy(_.getAs[Int]("label")).toSeq
      .map { case (l, rows) =>
        (l, rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("m")).toSeq)
      }.sortBy(_._1)
    val cdf = Seq((cents.map(_._1.toLong), cents.map(_._2)))
      .toDF("labs", "cs")
    e.crossJoin(broadcast(cdf))
      .select(col("label"), col("labs"),
        transform(col("cs"), c => r6(sqdist(col("xd"), c))).as("ds"))
      .select(col("label"),
        element_at(col("labs"),
          array_position(col("ds"), array_min(col("ds"))).cast("int"))
          .as("pred"))
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_vectors"), col("n_correct"),
        r4(col("n_correct").cast("double") / col("n_vectors").cast("double"))
          .as("accuracy"))
      .orderBy("label")
  }

  /** Matryoshka truncation audit: recall@5 of brute-force cosine search
    * run on the FIRST 16 dims against the full-64-dim ranking, per
    * probe — the measurement behind the "store a prefix, search 4×
    * cheaper" dimension-budget decision (matryoshka-style prefix
    * embeddings): if prefix recall is high, the serve path can scan a
    * quarter of the bytes and re-rank survivors at full width. Shape =
    * [[simsearchTopk]] twice over ONE candidate pass: probes broadcast,
    * both cosines (norms precomputed per row) computed map-side, the
    * two rankings are two window sorts over the SAME probe partition
    * (one shuffle), overlap is a count agg. At 100 TB the prefix scan
    * would read a separate 16-dim column (column pruning does the 4×,
    * not this audit — the audit is what justifies writing it). */
  def embeddingMatryoshkaEval(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"),
      slice(col("embedding"), 1, 16).as("emb16"))
      .select(col("vec_id"), col("embedding"), col("emb16"),
        l2(col("embedding")).as("n64"), l2(col("emb16")).as("n16"))
    val probes = e.orderBy("vec_id").limit(10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p64"),
        col("emb16").as("p16"), col("n64").as("pn64"), col("n16").as("pn16"))
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        r4(cosinePre(col("embedding"), col("p64"), col("n64"), col("pn64")))
          .as("cos64"),
        r4(cosinePre(col("emb16"), col("p16"), col("n16"), col("pn16")))
          .as("cos16"))
    val w64 = Window.partitionBy("probe_id").orderBy(desc("cos64"), col("vec_id"))
    val w16 = Window.partitionBy("probe_id").orderBy(desc("cos16"), col("vec_id"))
    scored
      .withColumn("r64", row_number().over(w64))
      .withColumn("r16", row_number().over(w16))
      .groupBy("probe_id")
      .agg(sum(when(col("r64") <= 5 && col("r16") <= 5, 1).otherwise(0))
        .as("n_overlap"))
      .select(col("probe_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / lit(5.0)).as("recall_at5"))
      .orderBy("probe_id")
  }

  /** Greedy farthest-point (Gonzalez) k-center seeding, k = 5 — the
    * deterministic cousin of k-means++ init and the standard way to
    * seed [[clusterKmeansAssign]]'s Lloyd iterations without a random
    * draw: start from the canonical arbitrary point (lowest vec_id),
    * then repeatedly pick the point FARTHEST from the chosen set
    * (2-approximation to optimal k-center cover). Each round is one
    * map-only corpus pass — centers ride in as broadcast DATA (one
    * array-of-arrays row, the [[embeddingPcaPower]] plan-constancy
    * lesson: literals would force a codegen recompile per round), the
    * per-point min-distance is an in-row `array_min` over the center
    * list (no shuffle at all), and the argmax is a TakeOrdered(1).
    * Driver state = k·d doubles (the Lloyd discipline). By the greedy
    * property, round t's selection distance IS the coverage radius of
    * the first t−1 centers, so the output doubles as a coverage curve
    * (spec pins its monotone decrease). Determinism: squared L2 via
    * the fixed-order fold ([[sqdist]], list_sum parity), r6-floored
    * before the DESC/vec_id-tie-broken argmax on both engines. */
  /** Cross-modal retrieval audit — the two-tower eval loop of a
    * CLIP-style pipeline with the engine's stub media decoder: each
    * doc's MEDIA vector is the 16-dim [[graft.multimodal]] stub
    * feature (sha256-derived, deterministic, SQL-replayable) and its
    * TEXT query vector is the first 16 dims of its embedding
    * (matryoshka prefix); for 10 probes, rank every media candidate
    * by cosine and report the probe's OWN media vector's rank plus
    * hit@5. With the stub decoder the expected self-rank is uniform —
    * this measures the NOISE FLOOR a real encoder must beat, and the
    * join/ranking plumbing (id-aligned towers, broadcast probes,
    * per-probe window top-k) is exactly what the real eval runs.
    * Shape at scale: probes broadcast, candidates scanned once, no
    * corpus shuffle; self-rank via one partitioned window. */
  def multimodalCrossmodalRecall(spark: SparkSession, dir: String): DataFrame = {
    val media = table(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        sha2(col("text").cast("binary"), 256).as("sha"))
      .withColumn("mv", expr(
        """transform(sequence(0, 15), i ->
           (CAST(conv(substring(sha, 2 * i + 1, 2), 16, 10) AS DOUBLE)
            - 128.0) / 128.0)"""))
      .select(col("id"), col("mv"))
    val txt = emb(spark, dir)
      .select(col("vec_id").as("id"), expr(
        "transform(slice(embedding, 1, 16), x -> CAST(x AS DOUBLE))")
        .as("tv"))
    val probes = txt.join(media.select(col("id")), "id")
      .orderBy("id").limit(10)
      .select(col("id").as("pid"), col("tv"))
    def dotDD(a: String, b: String): Column =
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
        "0D, (acc, v) -> acc + v)")
    val cosc = dotDD("tv", "mv") /
      (sqrt(dotDD("tv", "tv")) * sqrt(dotDD("mv", "mv")))
    val scored = media.crossJoin(broadcast(probes))
      .withColumn("cos", r6(cosc))
    val wr = Window.partitionBy("pid").orderBy(desc("cos"), col("id"))
    val nc = media.agg(count(lit(1)).as("n_candidates"))
    scored.withColumn("rk", row_number().over(wr).cast("long"))
      .filter(col("id") === col("pid"))
      .crossJoin(broadcast(nc))
      .select(col("pid").as("probe_id"), col("n_candidates"),
        col("rk").as("self_rank"), (col("rk") <= 5).as("hit_at_5"),
        r4(col("cos")).as("cos_self"))
      .orderBy("probe_id")
  }

  /** 1-bit (sign) embedding quantization + Hamming re-ranking with a
    * recall audit — the most aggressive compression rung under
    * [[embeddingQuantize]]/PQ: 64 float dims become two 32-bit sign
    * words (32× smaller), candidate distance becomes
    * popcount(xor) — pure register math, no float lanes — and the
    * recall@5 column prices what the 1-bit sketch loses against exact
    * cosine, per probe. Two HALF-WORDS rather than one 64-bit word
    * keep every shift off the sign bit (DuckDB's << rejects bit 63).
    * Packing is an exact integer sum of distinct powers via the same
    * aggregate/list_transform fold in both engines; Hamming ties
    * break on vec_id. At 100 TB this is the scan-side prefilter: the
    * sign words ride in the index instead of the vectors, and only
    * the Hamming top-k ever touches floats. */
  def simsearchHamming(spark: SparkSession, dir: String): DataFrame = {
    def word(lo: Int): String =
      s"""aggregate(transform(sequence(1, 32),
         k -> IF(element_at(embedding, k + $lo) >= 0F,
                 shiftleft(CAST(1 AS BIGINT), k - 1), CAST(0 AS BIGINT))),
         CAST(0 AS BIGINT), (a, b) -> a + b)"""
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"),
      l2(col("embedding")).as("nrm"),
      expr(word(0)).as("w1"), expr(word(32)).as("w2"))
    val probes = e.orderBy("vec_id").limit(10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"), col("w1").as("p_w1"), col("w2").as("p_w2"))
    val paired = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
    val ham = paired.select(col("probe_id"), col("vec_id"),
      (expr("bit_count(w1 ^ p_w1)") + expr("bit_count(w2 ^ p_w2)"))
        .cast("long").as("ham"))
    val wh = Window.partitionBy("probe_id").orderBy(col("ham"), col("vec_id"))
    val approx = ham.withColumn("rk", row_number().over(wh))
      .filter(col("rk") <= 5)
    val cos = paired.select(col("probe_id"), col("vec_id"),
      r4(cosinePre(col("embedding"), col("p_emb"), col("nrm"),
        col("p_nrm"))).as("cos"))
    val wc = Window.partitionBy("probe_id").orderBy(desc("cos"), col("vec_id"))
    val exact = cos.withColumn("rk", row_number().over(wc))
      .filter(col("rk") <= 5).select(col("probe_id"), col("vec_id"))
    approx.join(exact.withColumn("hit", lit(1L)),
        Seq("probe_id", "vec_id"), "left")
      .groupBy("probe_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        sum(col("ham")).as("sum_ham"))
      .select(col("probe_id"),
        r4(col("n_hit").cast("double") / lit(5.0)).as("recall_at_5"),
        r4(col("sum_ham").cast("double") / lit(5.0)).as("mean_hamming"))
      .orderBy("probe_id")
  }

  /** Maximal-marginal-relevance top-k — DIVERSIFIED retrieval, the
    * serving-side fix for near-dup result lists: greedily pick 8 of
    * the probe's 24 nearest neighbors maximizing λ·relevance −
    * (1−λ)·max-similarity-to-already-picked (λ = 0.7), so the second
    * copy of an already-shown document loses to a fresh one. Shape at
    * scale: relevance ranking is the ordinary ANN top-24 (TakeOrdered,
    * distributed); the greedy runs DRIVER-SIDE on the BOUNDED pool's
    * r4-rounded relevance/similarity values (24 rels + 24·23 sims —
    * the [[clusterKcenterInit]] bounded-collect pattern), so each pick
    * compares identical rounded doubles in both engines, ties to the
    * lower vec_id. The oracle unrolls the same 8 picks as chained
    * CTEs. */
  def simsearchMmr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"),
      l2(col("embedding")).as("nrm"))
    val probe = e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"))
    val pool = e.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        r4(cosinePre(col("embedding"), col("p_emb"), col("nrm"),
          col("p_nrm"))).as("rel"))
      .orderBy(desc("rel"), col("vec_id")).limit(MmrPool)
    val pc = pool.select(col("vec_id"), col("rel")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val aSide = pool.select(col("vec_id").as("a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val bSide = pool.select(col("vec_id").as("b"), col("embedding").as("eb"),
      col("nrm").as("nb2"))
    val sims = aSide.join(broadcast(bSide), col("a") =!= col("b"))
      .select(col("a"), col("b"),
        r4(cosinePre(col("ea"), col("eb"), col("na"), col("nb2"))).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    var selected = List.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Double, Double)]
    for (step <- 1 to MmrK if selected.length < pc.length) {
      val cands = pc.filterNot { case (id, _) => selected.contains(id) }
      val scored = cands.map { case (id, rel) =>
        val maxsim =
          if (selected.isEmpty) 0.0
          else selected.map(s => sims((id, s))).max
        (id, rel, maxsim, MmrLambda * rel - (1 - MmrLambda) * maxsim)
      }
      val pick = scored.minBy { case (id, _, _, sc) => (-sc, id) }
      selected = selected :+ pick._1
      out += ((step.toLong, pick._1, pick._2, r4D(pick._3), r4D(pick._4)))
    }
    out.toSeq.toDF("step", "vec_id", "rel", "max_sim", "mmr")
      .orderBy("step")
  }

  private val MmrPool = 24
  private val MmrK = 8
  private val MmrLambda = 0.7

  /** CTE chain unrolling [[simsearchMmr]]'s greedy picks for the DuckDB
    * oracle: sel1..sel7 accumulate picked ids; each step's argmax is
    * the identical λ·rel − (1−λ)·maxsim over r4 inputs with the same
    * DESC/vec_id tie order. */
  private val mmrIterCtes: String = (2 to MmrK).map { t =>
    val acc =
      if (t == 2) "sel1 AS MATERIALIZED (SELECT vec_id FROM m1),\n         "
      else s"""sel${t - 1} AS MATERIALIZED (SELECT vec_id FROM sel${t - 2}
             UNION ALL SELECT vec_id FROM m${t - 1}),
         """
    s"""${acc}m$t AS MATERIALIZED (
           SELECT $t AS step, c.vec_id, c.rel, ms.maxsim
           FROM pool c JOIN (
             SELECT a, max(s) AS maxsim FROM sims
             WHERE b IN (SELECT vec_id FROM sel${t - 1}) GROUP BY a) ms
             ON ms.a = c.vec_id
           WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
           ORDER BY $MmrLambda * c.rel - ${1 - MmrLambda} * ms.maxsim DESC,
             c.vec_id
           LIMIT 1)"""
  }.mkString(",\n         ")

  def clusterKcenterInit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("xd"))
    val first = e.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("xd")).collect()(0)
    var centers = Seq[Seq[Double]](first.getSeq[Double](1))
    var out = Seq[(Long, Long, Option[Double])](
      (1L, first.getLong(0), None))
    for (t <- 2 to 5) {
      val cs = Seq(Tuple1(centers)).toDF("cs")
      val top = e.crossJoin(broadcast(cs))
        .select(col("vec_id"), col("xd"),
          r6(array_min(transform(col("cs"), c => sqdist(col("xd"), c))))
            .as("dmin"))
        .orderBy(desc("dmin"), col("vec_id")).limit(1).collect()(0)
      centers = centers :+ top.getSeq[Double](1)
      out = out :+ ((t.toLong, top.getLong(0),
        Some(r4D(top.getDouble(2)))))
    }
    out.toDF("seq", "center_id", "sel_dist").orderBy("seq")
  }

  /** CTE chain unrolling [[clusterKcenterInit]]'s greedy rounds for the
    * DuckDB oracle: cs1..cs4 accumulate chosen centers, each round's
    * argmax is the identical r6 + DESC/vec_id-tie ORDER BY. */
  private val kcenterIterCtes: String = {
    val sqd = "list_sum(list_transform(range(1, len(e.embedding)+1), " +
      "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))" +
      " * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))))"
    (2 to 5).map { t =>
      // centers chosen so far: cs2 = kc1 ∪ kc2, cs3 = cs2 ∪ kc3, …
      val prev = if (t == 2) "kc1" else s"cs${t - 1}"
      val acc = t match {
        case 2 => ""
        case 3 => """cs2 AS (SELECT vec_id, embedding FROM kc1
             UNION ALL SELECT vec_id, embedding FROM kc2),
         """
        case _ => s"""cs${t - 1} AS (SELECT vec_id, embedding FROM cs${t - 2}
             UNION ALL SELECT vec_id, embedding FROM kc${t - 1}),
         """
      }
      s"""${acc}d$t AS (SELECT e.vec_id, min($sqd) AS raw
           FROM embeddings e, $prev c GROUP BY e.vec_id),
         s$t AS (SELECT vec_id, ${Util.r6Sql("raw")} AS dmin FROM d$t
           ORDER BY dmin DESC, vec_id LIMIT 1),
         kc$t AS (SELECT e.vec_id, e.embedding, s.dmin
           FROM embeddings e JOIN s$t s USING (vec_id))"""
    }.mkString(",\n         ")
  }

  /** VIDEO-level near-dup via KEYFRAME-set overlap — the rung above
    * [[multimodalPhashDedup]] (which matches whole payloads by one
    * perceptual hash): re-encoded or trimmed copies of a video keep
    * most of their KEYFRAMES, so two payloads sharing a large fraction
    * of per-frame hash keys are near-dups even when no single whole-file
    * hash matches. Decode is stubbed per the multimodal convention
    * (frames sample the payload at K=8 deterministic offsets; the
    * per-frame hash is md5-derived from the sampled bytes) — the
    * dataflow is the real one: a BOUNDED K-way explode per video, frame
    * keys folded to a 16-bit space, candidate pairs from an equi join
    * on the frame key with the standard per-bucket membership cap
    * (row_number ≤ 64 — never all-pairs), overlap verified as the
    * keyframe-set Jaccard against each video's true key count. */
  def multimodalKeyframeNeardup(spark: SparkSession, dir: String): DataFrame = {
    val frames = (0 until 8).map(j => substring(col("text"), 1 + j * 14, 16))
    val fk = table(spark, dir, "documents")
      .select(col("doc_id"), explode(array(frames: _*)).as("chunk"))
      .select(col("doc_id"),
        (conv(substring(md5(col("chunk").cast("binary")), 1, 12), 16, 10)
          .cast("long") % lit(65536L)).as("fkey"))
      .distinct()
    val kc = fk.groupBy("doc_id").agg(count(lit(1)).as("kc"))
    val w = Window.partitionBy("fkey").orderBy("doc_id")
    val capped = fk.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 64).select("doc_id", "fkey")
    val cand = capped.alias("a")
      .join(capped.alias("x"),
        col("a.fkey") === col("x.fkey") && col("a.doc_id") < col("x.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("x.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
    cand
      .join(kc.select(col("doc_id").as("d1"), col("kc").as("k1")), "d1")
      .join(kc.select(col("doc_id").as("d2"), col("kc").as("k2")), "d2")
      .withColumn("kf_jaccard", r6(col("n_shared").cast("double") /
        (col("k1") + col("k2") - col("n_shared")).cast("double")))
      .select(col("d1"), col("d2"), col("n_shared"), col("k1"), col("k2"),
        col("kf_jaccard"), (col("kf_jaccard") >= 0.5).as("within_threshold"))
      .orderBy(desc("kf_jaccard"), col("d1"), col("d2")).limit(20)
  }

  /** Embedding NORM-profile outlier audit — the cheap curation filter
    * that runs before any ANN work: per label, the L2-norm distribution
    * (a collapsed or exploded norm is the classic symptom of a bad
    * encoder batch) and how many vectors sit beyond 2σ. Norms quantize
    * to exact 1e-3 integer units so the per-label moment sums are exact
    * integers in both engines (Σm² stays far under 2⁶³ for milli-unit
    * norms ≲ 10⁶ across ≲ 10⁶ rows per label; a wider deployment
    * rescales the unit); the only IEEE ops are the final mean/variance
    * divisions and one sqrt, spelled identically in the oracle. Shape:
    * one linear norm projection, one tiny per-label agg broadcast back,
    * one counting agg — no shuffle beyond the label key. */
  def embeddingNormOutlier(spark: SparkSession, dir: String): DataFrame = {
    val asD = transform(col("embedding"), x => x.cast("double"))
    val nm = floor(sqrt(aggregate(asD, lit(0.0), (a, x) => a + x * x))
      * lit(1000.0) + 0.5).cast("long")
    val rows = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"), nm.as("m"))
    val stats = rows.groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("m")).as("s1"),
        sum(col("m") * col("m")).as("s2"))
      .withColumn("mean_m", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("var_m", when(col("n") > 1,
        (col("s2").cast("double") - col("s1").cast("double") *
          col("s1").cast("double") / col("n").cast("double")) /
          (col("n") - 1).cast("double"))
        .otherwise(lit(null).cast("double")))
      .select("label", "n", "mean_m", "var_m")
    rows.join(broadcast(stats), "label")
      .withColumn("is_out", when(col("n") > 1,
        abs(col("m").cast("double") - col("mean_m")) >
          lit(2.0) * sqrt(col("var_m"))).otherwise(lit(false)))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
        min(when(col("is_out"), col("vec_id"))).as("first_outlier_id"),
        min(col("m")).as("min_norm_milli"), max(col("m")).as("max_norm_milli"),
        r6(max(col("mean_m")) / lit(1000.0)).as("mean_norm"),
        r6(sqrt(max(col("var_m"))) / lit(1000.0)).as("sd_norm"))
      .orderBy("label")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_av_sync_drift" -> (multimodalAvSyncDrift _),
    "simsearch_bucket_audit" -> (simsearchBucketAudit _),
    "cluster_centroid_classify" -> (clusterCentroidClassify _),
    "embedding_label_drift" -> (embeddingLabelDrift _),
    "embedding_matryoshka_eval" -> (embeddingMatryoshkaEval _),
    "cluster_kcenter_init" -> (clusterKcenterInit _),
    "simsearch_mmr" -> (simsearchMmr _),
    "simsearch_hamming" -> (simsearchHamming _),
    "multimodal_crossmodal_recall" -> (multimodalCrossmodalRecall _),
    "embedding_jl_project" -> (embeddingJlProject _),
    "cluster_silhouette" -> (clusterSilhouette _),
    "multimodal_phash_dedup" -> (multimodalPhashDedup _),
    "multimodal_keyframe_neardup" -> (multimodalKeyframeNeardup _),
    "embedding_norm_outlier" -> (embeddingNormOutlier _),
    "embedding_pca_power" -> (embeddingPcaPower _),
    "join_spatial_grid" -> (joinSpatialGrid _),
    "simsearch_rrf_hybrid" -> (simsearchRrfHybrid _),
    "simsearch_mips" -> (simsearchMips _),
    "cluster_dbscan_grid" -> (clusterDbscanGrid _),
    "simsearch_filtered" -> (simsearchFiltered _),
    "embedding_whiten" -> (embeddingWhiten _),
    "cluster_semdedup" -> (clusterSemdedup _),
    "dedup_embedding_global" -> (dedupEmbeddingGlobal _),
    "cluster_kmeans_assign" -> (clusterKmeansAssign _),
    "simsearch_range" -> (simsearchRange _),
    "embedding_quantize" -> (embeddingQuantize _),
    "simsearch_topk" -> (simsearchTopk _),
    "simsearch_knn_join" -> (simsearchKnnJoin _),
    "simsearch_lsh" -> (simsearchLsh _),
    "simsearch_lsh_multiprobe" -> (simsearchLshMultiprobe _),
    "simsearch_recall_eval" -> (simsearchRecallEval _),
    "simsearch_nprobe_sweep" -> (simsearchNprobeSweep _),
    "embedding_avg_pool" -> (embeddingAvgPool _),
    "multimodal_decode_features" -> (multimodalDecodeFeatures _),
    "simsearch_ivf" -> (simsearchIvf _),
    "simsearch_ivf_index" -> (simsearchIvfIndex _),
    "simsearch_ivf_upsert" -> (simsearchIvfUpsert _),
    "simsearch_pq" -> (simsearchPq _),
    "simsearch_pq_index" -> (simsearchPqIndex _),
    "simsearch_index_upsert" -> (simsearchIndexUpsert _),
    "dedup_embedding" -> (dedupEmbedding _),
    "multimodal_join_stats" -> (multimodalJoinStats _),
    "multimodal_binary_meta" -> (multimodalBinaryMeta _),
    "multimodal_frame_sample" -> (multimodalFrameSample _),
    "multimodal_scene_cuts" -> (multimodalSceneCuts _),
    "multimodal_audio_vad" -> (multimodalAudioVad _))

  // Mirrors the Spark-side PQ exactly: same seeds, same PqIters Lloyd
  // iterations per subspace, same r6-decimal means and ADC sums —
  // generated by the same loop so the two can't drift. Shared verbatim
  // by simsearch_pq and simsearch_pq_index (deterministic training ⇒
  // the persisted index replays to the identical result).
  // Mirrors the Spark-side k-means exactly: same seeds, same KmeansIters
  // Lloyd iterations, same r6-decimal means — generated by the same loop
  // so the two can't drift. Shared verbatim by simsearch_ivf and
  // simsearch_ivf_index (deterministic training + exact parquet
  // round-trip ⇒ the persisted serve replays to the identical result).
  /** The IVF oracle, parameterized by the TRAINING source (the
    * [[pqOracleSqlGen]] pattern): `standingTrained = false` replays
    * [[simsearchIvf]] / [[simsearchIvfIndex]] (quantizer trained on the
    * full corpus); `true` replays [[simsearchIvfUpsert]] — seeds and
    * Lloyd iterations over the STANDING slice (`vec_id % 6 <> 0`) only,
    * final assignment over the FULL corpus against those frozen
    * centroids, probes from the full corpus. Same generated SQL
    * everywhere else, so the three declared variants cannot drift. */
  /** DuckDB float×double dot — shared by the IVF oracle chain and the
    * nprobe sweep oracle (one spelling, no drift). */
  private def dotFDSqlStr(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * $b[i]))"
  private def normDSqlStr(b: String): String =
    s"sqrt(list_sum(list_transform($b, y -> y * y)))"
  private def ivfAssignSqlStr(cn: String, src: String): String =
    s"""(SELECT vec_id, embedding, nrm, cell FROM (
           SELECT e.vec_id, e.embedding, e.nrm, c.c_id AS cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${dotFDSqlStr("e.embedding", "c.c_emb")} / (e.nrm * c.c_nrm) DESC, c.c_id) AS rn
           FROM $src e, $cn c) WHERE rn = 1)"""

  /** The shared IVF oracle PREAMBLE: `e` (normalized corpus), optional
    * standing slice, Lloyd chain cn0..cn[[KmeansIters]], and the final
    * corpus assignment `asg`. Shared by [[ivfOracleSqlGen]] and the
    * nprobe sweep so the training replay cannot drift between them. */
  private def ivfChainCtesSql(standingTrained: Boolean): String = {
    val trainE = if (standingTrained) "et" else "e"
    val iterCtes = (0 until KmeansIters).map { k =>
      s"""a$k AS ${ivfAssignSqlStr(s"cn$k", trainE)},
         x$k AS (SELECT cell, generate_subscripts(embedding, 1) AS i,
             unnest(embedding) AS x FROM a$k),
         m$k AS (SELECT cell, i,
             CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
               AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
           FROM x$k GROUP BY cell, i),
         cn${k + 1} AS (SELECT c_id, c_emb, ${normDSqlStr("c_emb")} AS c_nrm FROM (
             SELECT cell AS c_id, list(mu ORDER BY i) AS c_emb
             FROM m$k GROUP BY cell))"""
    }.mkString(",\n         ")
    val standingCte = if (standingTrained)
      "et AS (SELECT * FROM e WHERE vec_id % 6 <> 0),\n         " else ""
    s"""e AS (SELECT vec_id, embedding,
             sqrt(${dotFFSql("embedding", "embedding")}) AS nrm FROM embeddings),
         ${standingCte}cn0 AS (SELECT c_id, c_emb, ${normDSqlStr("c_emb")} AS c_nrm FROM (
             SELECT vec_id AS c_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb
             FROM $trainE ORDER BY vec_id LIMIT 16)),
         $iterCtes,
         asg AS ${ivfAssignSqlStr(s"cn$KmeansIters", "e")}"""
  }

  private def ivfOracleSqlGen(standingTrained: Boolean): String = {
    def dotFF(a: String, b: String) = dotFFSql(a, b)
    def dotFD(a: String, b: String) = dotFDSqlStr(a, b)
    s"""WITH ${ivfChainCtesSql(standingTrained)},
         p AS (SELECT vec_id AS probe_id, embedding AS p_emb, nrm AS p_nrm
             FROM asg ORDER BY vec_id LIMIT 10),
         pc AS (SELECT probe_id, p_emb, p_nrm, cell FROM (
             SELECT p.probe_id, p.p_emb, p.p_nrm, c.c_id AS cell,
               row_number() OVER (PARTITION BY p.probe_id
                 ORDER BY ${dotFD("p.p_emb", "c.c_emb")} / (p.p_nrm * c.c_nrm) DESC, c.c_id) AS pr
             FROM p, cn$KmeansIters c) WHERE pr <= $NProbe),
         s AS (SELECT pc.probe_id, a.cell, a.vec_id,
             ${r4Sql(dotFF("a.embedding", "pc.p_emb") + " / (a.nrm * pc.p_nrm)")} AS cos
           FROM asg a JOIN pc ON a.cell = pc.cell AND a.vec_id != pc.probe_id)
         SELECT probe_id, cell,
           CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
           vec_id AS neighbor_id, cos
         FROM s QUALIFY rk <= 3 ORDER BY probe_id, rk"""
  }

  private lazy val ivfOracleSqlStr: String = ivfOracleSqlGen(standingTrained = false)
  private lazy val ivfUpsertOracleSqlStr: String = ivfOracleSqlGen(standingTrained = true)

  /** Oracle twin of [[simsearchNprobeSweep]]: the shared IVF chain, one
    * exact-baseline CTE, and four per-nprobe serve replays unioned. */
  private lazy val nprobeSweepOracleSql: String = {
    val perNp = (1 to 4).map { np =>
      s"""pc$np AS (SELECT probe_id, p_emb, p_nrm, cell FROM (
             SELECT p.probe_id, p.p_emb, p.p_nrm, c.c_id AS cell,
               row_number() OVER (PARTITION BY p.probe_id
                 ORDER BY ${dotFDSqlStr("p.p_emb", "c.c_emb")} / (p.p_nrm * c.c_nrm) DESC, c.c_id) AS pr
             FROM p, cn$KmeansIters c) WHERE pr <= $np),
         t$np AS (SELECT probe_id, vec_id FROM (
             SELECT pc.probe_id, a.vec_id,
               ${r4Sql(dotFFSql("a.embedding", "pc.p_emb") + " / (a.nrm * pc.p_nrm)")} AS cos
             FROM asg a JOIN pc$np pc
               ON a.cell = pc.cell AND a.vec_id != pc.probe_id) z
           QUALIFY row_number() OVER (PARTITION BY probe_id
             ORDER BY cos DESC, vec_id) <= 3),
         h$np AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
           FROM t$np t JOIN ex
             ON t.probe_id = ex.probe_id AND t.vec_id = ex.neighbor_id)"""
    }.mkString(",\n         ")
    val rows = (1 to 4).map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
           ${r4Sql(s"CAST($np AS DOUBLE) / 16.0")} AS scan_frac,
           nx.n_exact, h$np.n_hit,
           ${r4Sql(s"CAST(h$np.n_hit AS DOUBLE) / CAST(nx.n_exact AS DOUBLE)")} AS recall
         FROM nx, h$np"""
    }.mkString("\n         UNION ALL ")
    s"""WITH ${ivfChainCtesSql(standingTrained = false)},
         p AS (SELECT vec_id AS probe_id, embedding AS p_emb, nrm AS p_nrm
             FROM asg ORDER BY vec_id LIMIT 10),
         ex AS (SELECT probe_id, vec_id AS neighbor_id FROM (
             SELECT p.probe_id, c.vec_id,
               ${r4Sql(dotFFSql("c.embedding", "p.p_emb") + " / (c.nrm * p.p_nrm)")} AS cos
             FROM e c, p WHERE c.vec_id != p.probe_id) z
           QUALIFY row_number() OVER (PARTITION BY probe_id
             ORDER BY cos DESC, vec_id) <= 3),
         nx AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
         $perNp
         SELECT * FROM ($rows) u ORDER BY nprobe"""
  }

  /** The PQ oracle, parameterized by the TRAINING source: `trainSv = "sv"`
    * replays [[simsearchPq]] (codebooks trained on the full corpus);
    * `trainSv = "svt"` (with matching standing-slice CTEs emitted) replays
    * [[simsearchIndexUpsert]] — codebooks trained on the STANDING slice
    * only, final codes assigned over the FULL corpus, probes from the
    * full corpus. Everything else (slicing, Lloyd arithmetic, ADC,
    * re-rank) is the identical generated SQL, so the three declared
    * variants cannot drift from each other. */
  private def pqOracleSqlGen(standingTrained: Boolean): String = {
      def dotFF(a: String, b: String) = dotFFSql(a, b)
      def sqd(a: String, b: String) =
        s"list_sum(list_transform(range(1, len($a)+1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
      val trainSv = if (standingTrained) "svt" else "sv"
      val trainE = if (standingTrained) "et" else "e"
      def assignSql(src: String, cb: String, out: String) =
        s"""$out AS (SELECT vec_id, sub, subv, code FROM (
             SELECT s.vec_id, s.sub, s.subv, c.c_id AS code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY ${sqd("s.subv", "c.c_emb")} ASC, c.c_id) AS rn
             FROM $src s JOIN $cb c ON c.sub = s.sub) WHERE rn = 1)"""
      // Lloyd refinement over the PqTrainCap-lowest-id sample — the
      // engine's bounded-training twin (below the cap the sample IS the
      // corpus, so small-sf values are unchanged)
      val iterCtes = (0 until PqIters).map { k =>
        s"""${assignSql("svtr", s"cb$k", s"a$k")},
         x$k AS (SELECT sub, code, generate_subscripts(subv, 1) AS i,
             unnest(subv) AS x FROM a$k),
         m$k AS (SELECT sub, code, i,
             CAST(sum(CAST(floor(x * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mu
           FROM x$k GROUP BY sub, code, i),
         cb${k + 1} AS (SELECT sub, code AS c_id, list(mu ORDER BY i) AS c_emb
           FROM m$k GROUP BY sub, code)"""
      }.mkString(",\n         ")
      val standingCtes = if (standingTrained)
        s"""et AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
         svt AS (SELECT * FROM sv WHERE vec_id % 5 <> 0),
         """ else ""
      s"""WITH e AS (SELECT vec_id, embedding,
             sqrt(${dotFF("embedding", "embedding")}) AS nrm FROM embeddings),
         sv AS (SELECT e.vec_id, CAST(f.sub AS INTEGER) AS sub,
             list_transform(e.embedding[(f.sub*8+1):(f.sub*8+8)], x -> CAST(x AS DOUBLE)) AS subv
           FROM e, (SELECT unnest(range($PqM)) AS sub) f),
         ${standingCtes}svtr AS (SELECT * FROM $trainSv WHERE vec_id IN
           (SELECT vec_id FROM $trainE ORDER BY vec_id LIMIT $PqTrainCap)),
         cb0 AS (SELECT sub, vec_id AS c_id, subv AS c_emb FROM $trainSv
           WHERE vec_id IN (SELECT vec_id FROM $trainE ORDER BY vec_id LIMIT $PqK)),
         $iterCtes,
         ${assignSql("sv", s"cb$PqIters", "codes")},
         p AS (SELECT vec_id AS probe_id, embedding AS p_emb, nrm AS p_nrm
             FROM e ORDER BY vec_id LIMIT 10),
         psv AS (SELECT p.probe_id, CAST(f.sub AS INTEGER) AS sub,
             list_transform(p.p_emb[(f.sub*8+1):(f.sub*8+8)], x -> CAST(x AS DOUBLE)) AS psv
           FROM p, (SELECT unnest(range($PqM)) AS sub) f),
         dtab AS (SELECT ps.probe_id, ps.sub, c.c_id AS code,
             ${sqd("ps.psv", "c.c_emb")} AS pd
           FROM psv ps JOIN cb$PqIters c ON c.sub = ps.sub),
         ad AS (SELECT dt.probe_id, cd.vec_id,
             CAST(sum(CAST(floor(dt.pd * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(28,6))) AS DOUBLE) AS adist
           FROM codes cd JOIN dtab dt ON dt.sub = cd.sub AND dt.code = cd.code
           WHERE cd.vec_id != dt.probe_id
           GROUP BY 1, 2),
         t5 AS (SELECT probe_id, vec_id, adist,
             row_number() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS ra
           FROM ad QUALIFY ra <= 5),
         rr AS (SELECT t.probe_id, t.vec_id, t.adist,
             ${r4Sql(dotFF("e.embedding", "p.p_emb") + " / (e.nrm * p.p_nrm)")} AS cos
           FROM t5 t JOIN e ON e.vec_id = t.vec_id JOIN p ON p.probe_id = t.probe_id)
         SELECT probe_id,
           CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
           vec_id AS neighbor_id, cos,
           floor(adist * 1000000.0 + 0.5) / 1000000.0 AS adist_r
         FROM rr ORDER BY probe_id, rk"""
  }

  private lazy val pqOracleSqlStr: String = pqOracleSqlGen(standingTrained = false)
  private lazy val pqUpsertOracleSqlStr: String = pqOracleSqlGen(standingTrained = true)

  // the 8 power-iteration rounds unrolled as CTEs, each CTE-for-CTE the
  // engine's loop body: per-row dot with v_{k-1}, per-dim DECIMAL term
  // sums, then the floor-rounded normalized update
  // Oracle twin of the Gram-matrix power iteration (round 13): the
  // 2080-cell upper-triangle Gram in exact 1e-12 integer units, the
  // symmetric expansion, then 8 unrolled 64×64 matvec CTEs whose terms
  // are exact 1e-6 integer units summed as BIGINT — CTE-for-CTE the
  // engine's driver-side loop body.
  private val pcaGramCtes: String = {
    val iters = (1 to 8).map { k =>
      s"""s$k AS (SELECT gf.i AS i,
           CAST(sum(CAST(floor(gf.g * v${k - 1}.v[gf.j] * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS si
           FROM gf, v${k - 1} GROUP BY gf.i),
         sv$k AS (SELECT list(CAST(si AS DOUBLE) / 1e6 ORDER BY i) AS sv
           FROM s$k),
         v$k AS (SELECT list_transform(sv, x ->
           floor(x / sqrt(list_sum(list_transform(sv, y -> y * y)))
             * 1e12 + 0.5) / 1e12) AS v FROM sv$k)"""
    }.mkString(",\n         ")
    s"""g0 AS MATERIALIZED (SELECT t.i AS i, u.j AS j,
           CAST(sum(CAST(floor(CAST(e.embedding[t.i] AS DOUBLE)
             * CAST(e.embedding[u.j] AS DOUBLE) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS gs
           FROM embeddings e, range(1, 65) t(i), range(1, 65) u(j)
           WHERE u.j >= t.i GROUP BY t.i, u.j),
         gf AS (SELECT i, j, CAST(gs AS DOUBLE) / 1e6 AS g FROM g0
           UNION ALL
           SELECT j AS i, i AS j, CAST(gs AS DOUBLE) / 1e6 AS g FROM g0
           WHERE i != j),
         $iters"""
  }

  val oracleSql: Map[String, String] = Map(
    "multimodal_av_sync_drift" ->
      s"""WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
           CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 41 - 20
             AS skew
           FROM documents),
         f AS (SELECT doc_id, text, n, skew,
           CAST(unnest(range(8)) AS BIGINT) AS frame_no FROM d),
         g AS (SELECT doc_id, text, n, skew, frame_no, n // 8 AS step,
           frame_no * (n // 8) + 1 AS off
           FROM f WHERE frame_no = 0 OR n // 8 > 0),
         h AS (SELECT doc_id, skew, frame_no,
           CAST(('0x' || substr(md5(substring(text, off, 12)), 1, 8))
             AS BIGINT) % 1001 - 500 AS jitter
           FROM g WHERE off <= n),
         dr AS (SELECT doc_id, skew, frame_no,
           frame_no * skew - jitter AS drift FROM h)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames, skew,
           arg_min(drift, frame_no) AS first_drift,
           arg_max(drift, frame_no) AS end_drift,
           max(abs(drift)) AS max_abs_drift,
           CASE WHEN max(frame_no) > 0 THEN
             ${r6Sql("CAST(arg_max(drift, frame_no) - arg_min(drift, frame_no) AS DOUBLE) / CAST(max(frame_no) AS DOUBLE)")}
             ELSE NULL END AS drift_per_frame,
           max(abs(drift)) > 520 AS out_of_sync
         FROM dr GROUP BY doc_id, skew ORDER BY doc_id""",
    "simsearch_bucket_audit" -> {
      def one(bits: Int): String = {
        val mult = if (bits == 8) "256.0" else "65536.0"
        s"""SELECT CAST($bits AS BIGINT) AS srp_bits,
           CAST(sum(sz) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           ${r6Sql("CAST(sum(sz) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS avg_bucket,
           ${r6Sql(s"CAST(max(sz) AS DOUBLE) * $mult / CAST(sum(sz) AS DOUBLE)")}
             AS skew_x,
           CAST(sum(CASE WHEN sz > ${graft.ops.Dedup.LshBucketCap} THEN 1
             ELSE 0 END) AS BIGINT) AS n_over_cap,
           CAST(sum(CASE WHEN sz > ${graft.ops.Dedup.LshBucketCap}
             THEN sz - ${graft.ops.Dedup.LshBucketCap} ELSE 0 END) AS BIGINT)
             AS capped_excess
         FROM (SELECT bucket, CAST(count(*) AS BIGINT) AS sz
           FROM (SELECT array_to_string(list_transform(embedding[1:$bits],
             x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
             FROM embeddings) GROUP BY 1)"""
      }
      s"""SELECT * FROM (${one(8)} UNION ALL ${one(16)})
         ORDER BY srp_bits"""
    },
    "cluster_centroid_classify" ->
      s"""WITH ed AS (SELECT label, t.i AS pos,
             CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
           FROM embeddings, range(1, 65) t(i)),
         dims AS (SELECT label, pos,
             CAST(sum(CAST(${r6Sql("v")} AS DECIMAL(20,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS m
           FROM ed GROUP BY 1, 2),
         cents AS (SELECT label, list(m ORDER BY pos) AS c
           FROM dims GROUP BY label),
         s AS (SELECT e.vec_id, e.label AS tl, c.label AS cand,
             ${r6Sql("list_sum(list_transform(range(1, 65), i -> (CAST(e.embedding[i] AS DOUBLE) - c.c[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.c[i])))")}
               AS dd
           FROM embeddings e, cents c),
         p AS (SELECT vec_id, tl, cand FROM s
           QUALIFY row_number() OVER (PARTITION BY vec_id
             ORDER BY dd, cand) = 1)
         SELECT CAST(tl AS BIGINT) AS label, count(*) AS n_vectors,
           CAST(sum(CASE WHEN cand = tl THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ${r4Sql("CAST(sum(CASE WHEN cand = tl THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS accuracy
         FROM p GROUP BY 1 ORDER BY 1""",
    "embedding_label_drift" ->
      s"""WITH e AS (SELECT label, vec_id % 2 AS half, t.i AS pos,
             CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
           FROM embeddings, range(1, 65) t(i)),
         dims AS (SELECT label, half, pos, count(*) AS n,
             CAST(sum(CAST(${r6Sql("v")} AS DECIMAL(20,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS m
           FROM e GROUP BY 1, 2, 3),
         p AS (SELECT a.label, a.pos, a.m AS m0, a.n AS n0,
             b.m AS m1, b.n AS n1
           FROM (SELECT * FROM dims WHERE half = 0) a
           JOIN (SELECT * FROM dims WHERE half = 1) b
             USING (label, pos)),
         g AS (SELECT CAST(label AS BIGINT) AS label,
             CAST(max(n0) AS BIGINT) AS n_first,
             CAST(max(n1) AS BIGINT) AS n_second,
             CAST(sum(CAST(${r6Sql("m0 * m1")} AS DECIMAL(20,6))) AS DOUBLE) AS s01,
             CAST(sum(CAST(${r6Sql("m0 * m0")} AS DECIMAL(20,6))) AS DOUBLE) AS s00,
             CAST(sum(CAST(${r6Sql("m1 * m1")} AS DECIMAL(20,6))) AS DOUBLE) AS s11,
             CAST(sum(CAST(${r6Sql("(m0 - m1) * (m0 - m1)")} AS DECIMAL(20,6))) AS DOUBLE) AS sd
           FROM p GROUP BY 1)
         SELECT label, n_first, n_second,
           ${r6Sql("CASE WHEN s00 > 0 AND s11 > 0 THEN s01 / (sqrt(s00) * sqrt(s11)) END")}
             AS cos_between_halves,
           ${r6Sql("sqrt(sd)")} AS shift_l2
         FROM g ORDER BY label""",
    "embedding_matryoshka_eval" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
             FROM embeddings ORDER BY vec_id LIMIT 10),
         s AS (SELECT p.probe_id, c.vec_id,
             ${r4Sql(cosSql("c.embedding", "p.pe"))} AS cos64,
             ${r4Sql(cosSql("c.embedding[1:16]", "p.pe[1:16]"))} AS cos16
           FROM embeddings c, p WHERE c.vec_id != p.probe_id),
         r AS (SELECT probe_id, vec_id,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY cos64 DESC, vec_id) AS r64,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY cos16 DESC, vec_id) AS r16
           FROM s)
         SELECT probe_id,
           CAST(sum(CASE WHEN r64 <= 5 AND r16 <= 5 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_overlap,
           CAST(CAST(sum(CASE WHEN r64 <= 5 AND r16 <= 5 THEN 1 ELSE 0 END)
             AS BIGINT) AS DOUBLE) / 5.0 AS recall_at5
         FROM r GROUP BY probe_id ORDER BY probe_id""",
    "multimodal_crossmodal_recall" -> {
      val dotTM = "list_sum(list_transform(range(1, 17), " +
        "i -> tv[i] * mv[i]))"
      val nT = "sqrt(list_sum(list_transform(range(1, 17), " +
        "i -> tv[i] * tv[i])))"
      val nM = "sqrt(list_sum(list_transform(range(1, 17), " +
        "i -> mv[i] * mv[i])))"
      s"""WITH media AS (SELECT doc_id AS id,
           list_transform(range(0, 16), i ->
             (CAST(('0x' || substr(sha256(text), 2 * i + 1, 2)) AS INT)
              - 128.0) / 128.0) AS mv
           FROM documents),
         txt AS (SELECT vec_id AS id,
           list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS tv
           FROM embeddings),
         probes AS (SELECT txt.id AS pid, tv FROM txt
           JOIN media ON media.id = txt.id ORDER BY txt.id LIMIT 10),
         nc AS (SELECT count(*) AS n_candidates FROM media),
         scored AS (SELECT probes.pid, media.id,
           ${r6Sql(s"$dotTM / ($nT * $nM)")} AS cos
           FROM media CROSS JOIN probes),
         rk AS (SELECT pid, id, cos,
           CAST(row_number() OVER (PARTITION BY pid
             ORDER BY cos DESC, id) AS BIGINT) AS rk
           FROM scored)
         SELECT pid AS probe_id, n_candidates, rk AS self_rank,
           rk <= 5 AS hit_at_5, ${r4Sql("cos")} AS cos_self
         FROM rk, nc WHERE id = pid ORDER BY probe_id""".stripMargin
    },
    "simsearch_hamming" -> {
      def wordSql(lo: Int) =
        s"""CAST(list_sum(list_transform(range(1, 33),
           k -> CASE WHEN embedding[k + $lo] >= 0
             THEN (1::BIGINT << CAST(k - 1 AS INTEGER)) ELSE 0::BIGINT END))
           AS BIGINT)"""
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding,
           ${wordSql(0)} AS w1, ${wordSql(32)} AS w2
           FROM embeddings),
         p AS (SELECT vec_id AS probe_id, embedding AS pe,
             w1 AS p_w1, w2 AS p_w2
           FROM e ORDER BY vec_id LIMIT 10),
         paired AS (SELECT p.probe_id, c.vec_id, c.embedding, p.pe,
             CAST(bit_count(xor(c.w1, p.p_w1))
               + bit_count(xor(c.w2, p.p_w2)) AS BIGINT) AS ham
           FROM e c, p WHERE c.vec_id != p.probe_id),
         approx AS (SELECT probe_id, vec_id, ham,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY ham, vec_id) AS rk
           FROM paired QUALIFY rk <= 5),
         exact AS (SELECT probe_id, vec_id FROM (
             SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY ${r4Sql(cosSql("embedding", "pe"))} DESC, vec_id)
                 AS rk
             FROM paired) WHERE rk <= 5)
         SELECT a.probe_id,
           ${r4Sql("CAST(CAST(sum(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / 5.0")}
             AS recall_at_5,
           ${r4Sql("CAST(CAST(sum(a.ham) AS BIGINT) AS DOUBLE) / 5.0")}
             AS mean_hamming
         FROM approx a LEFT JOIN exact x
           ON x.probe_id = a.probe_id AND x.vec_id = a.vec_id
         GROUP BY a.probe_id ORDER BY a.probe_id"""
    },
    "simsearch_mmr" -> {
      val unions = (1 to MmrK).map { t =>
        s"SELECT CAST($t AS BIGINT) AS step, vec_id, rel, maxsim FROM m$t"
      }.mkString("\n           UNION ALL ")
      s"""WITH pr AS (SELECT vec_id AS probe_id, embedding AS pe
             FROM embeddings ORDER BY vec_id LIMIT 1),
         pool AS MATERIALIZED (SELECT c.vec_id, c.embedding,
             ${r4Sql(cosSql("c.embedding", "pr.pe"))} AS rel
           FROM embeddings c, pr WHERE c.vec_id != pr.probe_id
           ORDER BY rel DESC, c.vec_id LIMIT $MmrPool),
         sims AS MATERIALIZED (SELECT a.vec_id AS a, b.vec_id AS b,
             ${r4Sql(cosSql("a.embedding", "b.embedding"))} AS s
           FROM pool a JOIN pool b ON a.vec_id != b.vec_id),
         m1 AS MATERIALIZED (SELECT 1 AS step, vec_id, rel, 0.0 AS maxsim
           FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
         $mmrIterCtes,
         u AS ($unions)
         SELECT step, vec_id, rel, ${r4Sql("maxsim")} AS max_sim,
           ${r4Sql(s"$MmrLambda * rel - ${1 - MmrLambda} * maxsim")} AS mmr
         FROM u ORDER BY step"""
    },
    "cluster_kcenter_init" ->
      s"""WITH kc1 AS (SELECT vec_id, embedding,
             CAST(NULL AS DOUBLE) AS dmin
           FROM embeddings ORDER BY vec_id LIMIT 1),
         $kcenterIterCtes
         SELECT seq, center_id, sel_dist FROM (
           SELECT CAST(1 AS BIGINT) AS seq, vec_id AS center_id,
             CAST(NULL AS DOUBLE) AS sel_dist FROM kc1
           UNION ALL SELECT 2, vec_id, ${Util.r4Sql("dmin")} FROM kc2
           UNION ALL SELECT 3, vec_id, ${Util.r4Sql("dmin")} FROM kc3
           UNION ALL SELECT 4, vec_id, ${Util.r4Sql("dmin")} FROM kc4
           UNION ALL SELECT 5, vec_id, ${Util.r4Sql("dmin")} FROM kc5
         ) ORDER BY seq""",
    "embedding_jl_project" ->
      s"""WITH g AS (SELECT k, list_transform(range(0, 64), d ->
             list_sum(list_transform(range(1, 13), j ->
               CAST(CAST(('0x' || substr(md5('jl|' || CAST(k AS VARCHAR)
                 || '|' || CAST(d AS VARCHAR) || '|' || CAST(j AS VARCHAR)),
                 1, 15)) AS BIGINT) AS DOUBLE) / 1152921504606846976.0))
               - 6.0) AS gv
           FROM (SELECT unnest(range(16)) AS k)),
         proj AS (SELECT e.vec_id,
             list_sum(list_transform(range(1, 65), i ->
               CAST(e.embedding[i] AS DOUBLE) * g.gv[i])) AS p
           FROM embeddings e, g),
         np AS (SELECT vec_id,
             CAST(sum(CAST(${r6Sql("p * p")} AS DECIMAL(20,6)))
               AS DOUBLE) AS np2d
           FROM proj GROUP BY 1),
         nx AS (SELECT vec_id,
             list_sum(list_transform(range(1, 65), i ->
               CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
               AS nx2
           FROM embeddings),
         rat AS (SELECT ${r6Sql("np2d / (16.0 * nx2)")} AS ratio
           FROM np JOIN nx USING (vec_id))
         SELECT count(*) AS n_vectors,
           ${r6Sql("CAST(sum(CAST(ratio AS DECIMAL(20,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS mean_ratio,
           ${r6Sql("min(ratio)")} AS min_ratio,
           ${r6Sql("max(ratio)")} AS max_ratio,
           ${r6Sql("CAST(count(CASE WHEN ratio BETWEEN 0.8 AND 1.2 THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS share_within_20pct
         FROM rat""",
    "cluster_silhouette" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce
             FROM embeddings ORDER BY vec_id LIMIT 8),
         s AS (SELECT e.vec_id, c.centroid_id,
             list_sum(list_transform(range(1, len(e.embedding)+1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))))
               AS sqd0
           FROM embeddings e, c),
         r AS (SELECT vec_id, centroid_id, sqd0, row_number()
             OVER (PARTITION BY vec_id ORDER BY sqd0, centroid_id) AS rn
           FROM s),
         ab AS (SELECT a.vec_id, a.centroid_id AS cid,
             sqrt(a.sqd0) AS av, sqrt(b.sqd0) AS bv
           FROM (SELECT * FROM r WHERE rn = 1) a
           JOIN (SELECT * FROM r WHERE rn = 2) b USING (vec_id)),
         sil AS (SELECT cid,
           ${r6Sql("CASE WHEN greatest(av, bv) > 0 THEN (bv - av) / greatest(av, bv) ELSE 0.0 END")}
             AS s
           FROM ab)
         SELECT CAST(cid AS BIGINT) AS centroid_id, count(*) AS n,
           ${r6Sql("CAST(sum(CAST(s AS DECIMAL(20,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS mean_sil,
           ${r6Sql("min(s)")} AS min_sil,
           ${r6Sql("CAST(count(CASE WHEN s < 0 THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS share_neg
         FROM sil GROUP BY 1 ORDER BY 1""",
    "multimodal_keyframe_neardup" ->
      s"""WITH fr AS (SELECT doc_id,
           substr(text, 1 + 14 * CAST(t.j AS INTEGER), 16) AS chunk
           FROM documents, range(0, 8) t(j)),
         fk AS (SELECT DISTINCT doc_id,
           CAST(('0x' || substr(md5(chunk), 1, 12)) AS BIGINT) % 65536 AS fkey
           FROM fr),
         kc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kc
           FROM fk GROUP BY 1),
         capped AS (SELECT doc_id, fkey FROM fk
           QUALIFY row_number() OVER (PARTITION BY fkey ORDER BY doc_id) <= 64),
         cand AS (SELECT a.doc_id AS d1, x.doc_id AS d2,
             CAST(count(*) AS BIGINT) AS n_shared
           FROM capped a JOIN capped x
             ON a.fkey = x.fkey AND a.doc_id < x.doc_id
           GROUP BY 1, 2),
         j AS (SELECT d1, d2, n_shared, k1.kc AS k1, k2.kc AS k2,
             ${r6Sql("CAST(n_shared AS DOUBLE) / CAST(k1.kc + k2.kc - n_shared AS DOUBLE)")}
               AS kf_jaccard
           FROM cand JOIN kc k1 ON k1.doc_id = d1
             JOIN kc k2 ON k2.doc_id = d2)
         SELECT d1, d2, n_shared, k1, k2, kf_jaccard,
           kf_jaccard >= 0.5 AS within_threshold
         FROM j ORDER BY kf_jaccard DESC, d1, d2 LIMIT 20""",
    "embedding_norm_outlier" ->
      s"""WITH r AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
           CAST(floor(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000.0 + 0.5)
             AS BIGINT) AS m
           FROM embeddings),
         st AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(m) AS BIGINT) AS s1, CAST(sum(m * m) AS BIGINT) AS s2
           FROM r GROUP BY 1),
         st2 AS (SELECT label, n,
           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_m,
           CASE WHEN n > 1 THEN
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
               / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)
           ELSE NULL END AS var_m FROM st),
         f AS (SELECT r.vec_id, r.label, r.m, st2.n, st2.mean_m, st2.var_m,
           CASE WHEN st2.n > 1 THEN
             abs(CAST(r.m AS DOUBLE) - st2.mean_m) > 2.0 * sqrt(st2.var_m)
           ELSE false END AS is_out
           FROM r JOIN st2 USING (label))
         SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           min(CASE WHEN is_out THEN vec_id ELSE NULL END) AS first_outlier_id,
           min(m) AS min_norm_milli, max(m) AS max_norm_milli,
           ${r6Sql("max(mean_m) / 1000.0")} AS mean_norm,
           ${r6Sql("sqrt(max(var_m)) / 1000.0")} AS sd_norm
         FROM f GROUP BY label ORDER BY label""",
    "multimodal_phash_dedup" ->
      s"""WITH d AS (SELECT doc_id,
           CAST(('0x' || substr(sha256(text), 1, 15)) AS BIGINT) AS ph
           FROM documents),
         bands AS (SELECT doc_id, ph, t.b,
           (ph >> (15 * CAST(t.b AS INTEGER))) & 32767 AS v
           FROM d, range(0, 4) t(b)),
         capped AS (SELECT doc_id, ph, b, v FROM bands
           QUALIFY row_number() OVER (PARTITION BY b, v ORDER BY doc_id) <= 64),
         cand AS (SELECT DISTINCT a.doc_id AS d1, a.ph AS p1,
             x.doc_id AS d2, x.ph AS p2
           FROM capped a JOIN capped x
             ON a.b = x.b AND a.v = x.v AND a.doc_id < x.doc_id)
         SELECT d1, d2, CAST(bit_count(xor(p1, p2)) AS BIGINT) AS hamming,
           bit_count(xor(p1, p2)) <= 12 AS within_threshold
         FROM cand
         ORDER BY hamming, d1, d2 LIMIT 20""",
    "embedding_pca_power" ->
      s"""WITH v0 AS (SELECT list_transform(range(1, 65),
             i -> CAST(0.125 AS DOUBLE)) AS v),
         $pcaGramCtes,
         eig AS (SELECT floor(sqrt(list_sum(list_transform(sv, y -> y * y)))
             * 1000000.0 + 0.5) / 1000000.0 AS eigval FROM sv8)
         SELECT e.vec_id,
           ${r6Sql("list_sum(list_transform(range(1, 65), j -> CAST(e.embedding[j] AS DOUBLE) * v8.v[j]))")} AS pc1_score,
           eig.eigval AS eigval
         FROM embeddings e, v8, eig
         ORDER BY pc1_score DESC, e.vec_id LIMIT 20""",
    "join_spatial_grid" ->
      s"""WITH e AS (SELECT vec_id,
           CAST(embedding[1] AS DOUBLE) AS x,
           CAST(embedding[2] AS DOUBLE) AS y FROM embeddings),
         a AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         b AS (SELECT * FROM e WHERE vec_id % 2 = 1),
         p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
           FROM a, b)
         SELECT a_id, b_id, ${r6Sql("sqrt(d2)")} AS dist
         FROM p WHERE d2 <= 0.0025
         ORDER BY dist, a_id, b_id LIMIT 100""",
    "simsearch_rrf_hybrid" ->
      s"""WITH dl AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
         st AS (SELECT count(*) AS n, sum(dl) AS sum_dl FROM dl),
         tf AS (SELECT doc_id, token, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents)
           WHERE token IN ('join','filter','sort','merge','window')
           GROUP BY doc_id, token),
         dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         sc AS (SELECT tf.doc_id,
           ${r6Sql("ln((CAST(st.n AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5) / (CAST(dfx.df AS DOUBLE) + 0.5) + 1.0) * (CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n AS DOUBLE)))))")} AS s
           FROM tf JOIN dl ON tf.doc_id = dl.doc_id
             JOIN dfx ON tf.token = dfx.token, st),
         bm AS (SELECT doc_id, CAST(sum(CAST(s AS DECIMAL(16,6))) AS DOUBLE) AS bm
           FROM sc GROUP BY doc_id),
         bmtop AS (SELECT doc_id,
           CAST(row_number() OVER (ORDER BY bm DESC, doc_id) AS BIGINT) AS rb
           FROM (SELECT * FROM bm ORDER BY bm DESC, doc_id LIMIT 50)),
         pr AS (SELECT vec_id AS pid, embedding AS pe
           FROM embeddings ORDER BY vec_id LIMIT 1),
         cs AS (SELECT c.vec_id, ${r6Sql(cosSql("c.embedding", "pr.pe"))} AS cosv
           FROM embeddings c, pr WHERE c.vec_id != pr.pid),
         vtop AS (SELECT vec_id,
           CAST(row_number() OVER (ORDER BY cosv DESC, vec_id) AS BIGINT) AS rv
           FROM (SELECT * FROM cs ORDER BY cosv DESC, vec_id LIMIT 50))
         SELECT COALESCE(b.doc_id, v.vec_id) AS doc_id,
           b.rb AS rank_bm25, v.rv AS rank_vec,
           ${r6Sql("COALESCE(1.0 / (60.0 + CAST(b.rb AS DOUBLE)), 0.0) + COALESCE(1.0 / (60.0 + CAST(v.rv AS DOUBLE)), 0.0)")} AS rrf
         FROM bmtop b FULL OUTER JOIN vtop v ON b.doc_id = v.vec_id
         ORDER BY rrf DESC, COALESCE(b.doc_id, v.vec_id) LIMIT 10""",
    "simsearch_mips" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
             FROM embeddings ORDER BY vec_id LIMIT 10),
         s AS (SELECT p.probe_id, c.vec_id,
             ${r4Sql("list_sum(list_transform(range(1, len(c.embedding)+1), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p.pe[i] AS DOUBLE))) * (1.0 + CAST(c.label % 5 AS DOUBLE) / 4.0)")} AS ip
           FROM embeddings c, p WHERE c.vec_id != p.probe_id)
         SELECT probe_id,
           CAST(row_number() OVER (PARTITION BY probe_id ORDER BY ip DESC, vec_id) AS BIGINT) AS rk,
           vec_id AS neighbor_id, ip
         FROM s QUALIFY rk <= 5 ORDER BY probe_id, rk""",
    "cluster_dbscan_grid" ->
      s"""WITH RECURSIVE pts AS MATERIALIZED (
           SELECT (CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.08) AS BIGINT) + 100) * 1000
                + (CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.08) AS BIGINT) + 100) AS cell
           FROM embeddings),
         cells AS MATERIALIZED (
           SELECT cell, count(*) AS n_pts FROM pts GROUP BY cell),
         core AS MATERIALIZED (
           SELECT cell, n_pts FROM cells WHERE n_pts >= 4),
         e AS MATERIALIZED (
           SELECT a.cell AS src, b.cell AS dst FROM core a JOIN core b
           ON b.cell - a.cell IN (-1001, -1000, -999, -1, 1, 999, 1000, 1001)),
         reach AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         rt AS (
           SELECT c.cell, c.n_pts,
             least(c.cell, COALESCE(min(r.dst), c.cell)) AS root
           FROM core c LEFT JOIN reach r ON r.src = c.cell
           GROUP BY c.cell, c.n_pts),
         cl AS (
           SELECT CAST(root // 1000 - 100 AS VARCHAR) || ':'
                || CAST(root % 1000 - 100 AS VARCHAR) AS label,
             count(*) AS n_cells, sum(n_pts) AS n_pts
           FROM rt GROUP BY root),
         noise AS (
           SELECT 'noise' AS label, count(*) AS n_cells,
             COALESCE(sum(n_pts), 0) AS n_pts
           FROM cells WHERE n_pts < 4)
         SELECT label, CAST(n_cells AS BIGINT) AS n_cells,
           CAST(n_pts AS BIGINT) AS n_pts
         FROM (SELECT * FROM cl UNION ALL SELECT * FROM noise)
         ORDER BY n_pts DESC, label""",
    "simsearch_filtered" ->
      s"""WITH e AS (
           SELECT vec_id, embedding, label,
             array_to_string(list_transform(embedding[1:8],
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings),
         rhs AS (
           SELECT vec_id AS v2, embedding AS e2, label, bucket
           FROM e
           QUALIFY row_number() OVER (PARTITION BY bucket, label ORDER BY vec_id) <= 256),
         p AS (SELECT * FROM e ORDER BY vec_id LIMIT 10),
         lhs AS (
           SELECT p.vec_id AS v1, p.embedding AS e1, p.label,
             CASE WHEN f.i = 0 THEN bucket
                  ELSE substr(bucket, 1, CAST(f.i AS INTEGER) - 1) ||
                       (CASE WHEN substr(bucket, CAST(f.i AS INTEGER), 1) = '1'
                             THEN '0' ELSE '1' END) ||
                       substr(bucket, CAST(f.i AS INTEGER) + 1, 8) END AS bucket
           FROM p, (SELECT unnest(range(0, 9)) AS i) f),
         pr AS (
           SELECT lhs.v1, CAST(lhs.label AS BIGINT) AS label, rhs.v2,
             ${r4Sql(cosSql("lhs.e1", "rhs.e2"))} AS cos
           FROM lhs JOIN rhs ON lhs.bucket = rhs.bucket
             AND lhs.label = rhs.label AND lhs.v1 != rhs.v2)
         SELECT v1, label, v2, cos FROM pr
         QUALIFY row_number() OVER (PARTITION BY v1 ORDER BY cos DESC, v2) <= 3
         ORDER BY v1, cos DESC, v2""",
    "embedding_whiten" ->
      s"""WITH x AS (SELECT f.i AS i,
           CAST(floor(CAST(embedding[f.i] AS DOUBLE) * 10000000000.0 + 0.5)
             AS DECIMAL(19,0)) AS vq
           FROM embeddings,
             LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) f),
         st AS (SELECT i, count(*) AS n, sum(vq) AS s, sum(vq * vq) AS ss
           FROM x GROUP BY i),
         sd AS (SELECT i, ${dec2dSql("s", 10)} / CAST(n AS DOUBLE) AS mu,
           sqrt(greatest(${dec2dSql("ss", 20)} / CAST(n AS DOUBLE)
             - (${dec2dSql("s", 10)} / CAST(n AS DOUBLE))
               * (${dec2dSql("s", 10)} / CAST(n AS DOUBLE)), 1e-12)) AS sg
           FROM st),
         t AS (SELECT e.vec_id,
             CAST(floor(((CAST(e.embedding[sd.i] AS DOUBLE) - sd.mu) / sd.sg)
               * ((CAST(e.embedding[sd.i] AS DOUBLE) - sd.mu) / sd.sg)
               * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(16,6)) AS zt,
             CAST(floor(CAST(e.embedding[sd.i] AS DOUBLE)
               * CAST(e.embedding[sd.i] AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(16,6)) AS vt
           FROM embeddings e JOIN sd ON sd.i <= len(e.embedding))
         SELECT vec_id,
           ${r4Sql("sqrt(CAST(sum(vt) AS DOUBLE))")} AS l2_before,
           ${r4Sql("sqrt(CAST(sum(zt) AS DOUBLE))")} AS l2_after,
           ${r4Sql("sqrt(CAST(max(zt) AS DOUBLE))")} AS z_max
         FROM t GROUP BY vec_id ORDER BY vec_id""",
    "simsearch_knn_join" ->
      s"""WITH e AS (
           SELECT vec_id, embedding,
             array_to_string(list_transform(embedding[1:8],
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings),
         rhs AS (
           SELECT vec_id AS v2, embedding AS e2, bucket
           FROM e
           QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= 256),
         lhs AS (
           SELECT e.vec_id AS v1, e.embedding AS e1,
             CASE WHEN f.i = 0 THEN bucket
                  ELSE substr(bucket, 1, CAST(f.i AS INTEGER) - 1) ||
                       (CASE WHEN substr(bucket, CAST(f.i AS INTEGER), 1) = '1'
                             THEN '0' ELSE '1' END) ||
                       substr(bucket, CAST(f.i AS INTEGER) + 1, 8) END AS bucket
           FROM e, (SELECT unnest(range(0, 9)) AS i) f),
         pr AS (
           SELECT lhs.v1, rhs.v2,
             ${r4Sql(cosSql("lhs.e1", "rhs.e2"))} AS cos
           FROM lhs JOIN rhs ON lhs.bucket = rhs.bucket AND lhs.v1 != rhs.v2)
         SELECT v1, v2, cos FROM pr
         QUALIFY row_number() OVER (PARTITION BY v1 ORDER BY cos DESC, v2) <= 3
         ORDER BY v1, cos DESC, v2""",
    "dedup_embedding_global" ->
      s"""WITH e AS (
           SELECT vec_id, label, embedding,
             array_to_string(list_transform(embedding[1:16],
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings),
         rhs AS (
           SELECT vec_id AS v2, label AS lab2, embedding AS e2, bucket
           FROM e
           QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= 256),
         lhs AS (
           SELECT e.vec_id AS v1, e.label AS lab1, e.embedding AS e1,
             CASE WHEN f.i = 0 THEN bucket
                  ELSE substr(bucket, 1, CAST(f.i AS INTEGER) - 1) ||
                       (CASE WHEN substr(bucket, CAST(f.i AS INTEGER), 1) = '1'
                             THEN '0' ELSE '1' END) ||
                       substr(bucket, CAST(f.i AS INTEGER) + 1, 16) END AS bucket
           FROM e, (SELECT unnest(range(0, 17)) AS i) f),
         pr AS (
           SELECT lhs.v1, rhs.v2, lhs.lab1, rhs.lab2,
             ${r4Sql(cosSql("lhs.e1", "rhs.e2"))} AS cos
           FROM lhs JOIN rhs ON lhs.bucket = rhs.bucket AND lhs.v1 < rhs.v2)
         SELECT v1, v2, CAST(lab1 AS BIGINT) AS label1, CAST(lab2 AS BIGINT) AS label2,
           CAST(CASE WHEN lab1 != lab2 THEN 1 ELSE 0 END AS BIGINT) AS cross_label,
           cos
         FROM pr ORDER BY cos DESC, v1, v2 LIMIT 10""",
    "cluster_semdedup" ->
      s"""WITH $semPairCtesSql,
         m AS (SELECT cl, count(*) AS n_members FROM a GROUP BY 1),
         g AS (SELECT cl, count(*) AS n_pairs,
             CAST(sum(CASE WHEN cos >= 0.30 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs,
             count(DISTINCT CASE WHEN cos >= 0.30 THEN v2 END) AS n_removed,
             min(CASE WHEN cos >= 0.30 THEN v2 END) AS first_removed,
             max(cos) AS max_cos
           FROM p GROUP BY cl)
         SELECT m.cl, m.n_members,
           coalesce(g.n_pairs, 0) AS n_pairs,
           coalesce(g.n_dup_pairs, 0) AS n_dup_pairs,
           coalesce(g.n_removed, 0) AS n_removed,
           m.n_members - coalesce(g.n_removed, 0) AS n_kept,
           g.first_removed, g.max_cos
         FROM m LEFT JOIN g USING (cl) ORDER BY cl""",
    "cluster_kmeans_assign" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce
             FROM embeddings ORDER BY vec_id LIMIT 8),
         s AS (SELECT e.vec_id, c.centroid_id,
             list_sum(list_transform(range(1, len(e.embedding)+1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)))) AS sqd0
           FROM embeddings e, c)
         SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id,
           ${r6Sql("sqd0")} AS sqd
         FROM s
         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sqd0, centroid_id) = 1
         ORDER BY vec_id""",
    "simsearch_range" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
             FROM embeddings ORDER BY vec_id LIMIT 5),
         s AS (SELECT p.probe_id, c.vec_id AS neighbor_id,
             ${r4Sql(cosSql("c.embedding", "p.pe"))} AS cos
           FROM embeddings c, p WHERE c.vec_id != p.probe_id)
         SELECT probe_id, neighbor_id, cos
         FROM s WHERE cos >= 0.3
         ORDER BY probe_id, cos DESC, neighbor_id""",
    "embedding_quantize" ->
      """WITH d AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
           FROM embeddings),
         sc AS (SELECT vec_id, xd,
             127.0 / list_max(list_transform(xd, v -> abs(v))) AS s
           FROM d),
         qq AS (SELECT vec_id, xd, s,
             list_transform(xd, v -> CAST(floor(v * s + 0.5) AS INTEGER)) AS q
           FROM sc)
         SELECT vec_id,
           floor(s * 1000000.0 + 0.5) / 1000000.0 AS q_scale,
           array_to_string(q[1:8], ',') AS q_head8,
           CAST(len(q) AS BIGINT) AS dim,
           floor(sqrt(list_sum(list_transform(range(1, len(q) + 1),
               i -> (xd[i] - CAST(q[i] AS DOUBLE) / s) * (xd[i] - CAST(q[i] AS DOUBLE) / s)))
             / CAST(len(q) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS rms_err
         FROM qq ORDER BY vec_id""",
    "simsearch_topk" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
             FROM embeddings ORDER BY vec_id LIMIT 10),
         s AS (SELECT p.probe_id, c.vec_id,
             ${r4Sql(cosSql("c.embedding", "p.pe"))} AS cos
           FROM embeddings c, p WHERE c.vec_id != p.probe_id)
         SELECT probe_id,
           CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
           vec_id AS neighbor_id, cos
         FROM s QUALIFY rk <= 5 ORDER BY probe_id, rk""",
    "simsearch_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding, $srpBucketSql AS bucket FROM embeddings),
         p AS (SELECT vec_id AS probe_id, embedding AS pe, bucket
             FROM e ORDER BY vec_id LIMIT 10),
         s AS (SELECT p.probe_id, c.bucket, c.vec_id,
             ${r4Sql(cosSql("c.embedding", "p.pe"))} AS cos
           FROM e c JOIN p ON c.bucket = p.bucket AND c.vec_id != p.probe_id)
         SELECT probe_id, bucket,
           CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
           vec_id AS neighbor_id, cos
         FROM s QUALIFY rk <= 3 ORDER BY probe_id, rk""",
    "simsearch_lsh_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, embedding, $srpBucketSql AS bucket FROM embeddings),
         p0 AS (SELECT vec_id AS probe_id, embedding AS pe, bucket
             FROM e ORDER BY vec_id LIMIT 10),
         p AS (SELECT probe_id, pe,
             CASE WHEN f.i = 0 THEN bucket
                  ELSE substr(bucket, 1, CAST(f.i AS INTEGER) - 1) ||
                       (CASE WHEN substr(bucket, CAST(f.i AS INTEGER), 1) = '1'
                             THEN '0' ELSE '1' END) ||
                       substr(bucket, CAST(f.i AS INTEGER) + 1, 8) END AS bucket
           FROM p0, (SELECT unnest(range(0, 9)) AS i) f),
         s AS (SELECT p.probe_id, c.bucket, c.vec_id,
             ${r4Sql(cosSql("c.embedding", "p.pe"))} AS cos
           FROM e c JOIN p ON c.bucket = p.bucket AND c.vec_id != p.probe_id)
         SELECT probe_id, bucket,
           CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
           vec_id AS neighbor_id, cos
         FROM s QUALIFY rk <= 3 ORDER BY probe_id, rk""",
    // Replays the stub decoder's sha256-derived feature math byte for
    // byte: feature i = (unsigned digest byte i − 128)/128, all dyadic.
    "multimodal_decode_features" ->
      s"""WITH f AS (
           SELECT doc_id AS id, 'text' AS kind,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             sha256(text) AS sha
           FROM documents),
         e AS (
           SELECT id, kind, n_bytes, sha,
             l.i AS i,
             (CAST(('0x' || substr(sha, 2 * l.i + 1, 2)) AS INT) - 128) / 128.0 AS fi
           FROM f, LATERAL (SELECT unnest(range(0, 16)) AS i) l)
         SELECT id, kind, n_bytes, sha AS sha256,
           ${r6Sql("any_value(CASE WHEN i = 0 THEN fi END)")} AS f0,
           ${r6Sql("sqrt(sum(fi * fi))")} AS f_norm
         FROM e GROUP BY id, kind, n_bytes, sha ORDER BY id""",
    "embedding_avg_pool" ->
      s"""WITH x AS (
           SELECT label, f.i - 1 AS pos, embedding[f.i] AS v
           FROM embeddings,
             LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) f)
         SELECT label, CAST(pos AS BIGINT) AS pos, count(*) AS n_vecs,
           ${r6Sql(dec2dSql("sum(CAST(floor(CAST(v AS DOUBLE) * 10000000000.0 + 0.5) AS DECIMAL(38,0)))", 10) + " / CAST(count(*) AS DOUBLE)")} AS mean
         FROM x GROUP BY label, pos ORDER BY label, pos""",
    // Composes the exact-top-3 and multiprobe CTEs (same spellings as
    // their own oracles) and counts the per-probe overlap.
    "simsearch_nprobe_sweep" -> nprobeSweepOracleSql,
    "simsearch_recall_eval" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
             FROM embeddings ORDER BY vec_id LIMIT 10),
         ex0 AS (SELECT p.probe_id, c.vec_id,
             ${r4Sql(cosSql("c.embedding", "p.pe"))} AS cos
           FROM embeddings c, p WHERE c.vec_id != p.probe_id),
         ex AS (SELECT probe_id, vec_id FROM (
             SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, vec_id) AS rk
             FROM ex0) WHERE rk <= 3),
         e AS (SELECT vec_id, embedding, $srpBucketSql AS bucket FROM embeddings),
         p0 AS (SELECT vec_id AS probe_id, embedding AS pe, bucket
             FROM e ORDER BY vec_id LIMIT 10),
         pm AS (SELECT probe_id, pe,
             CASE WHEN f.i = 0 THEN bucket
                  ELSE substr(bucket, 1, CAST(f.i AS INTEGER) - 1) ||
                       (CASE WHEN substr(bucket, CAST(f.i AS INTEGER), 1) = '1'
                             THEN '0' ELSE '1' END) ||
                       substr(bucket, CAST(f.i AS INTEGER) + 1, 8) END AS bucket
           FROM p0, (SELECT unnest(range(0, 9)) AS i) f),
         s AS (SELECT pm.probe_id, c.vec_id,
             ${r4Sql(cosSql("c.embedding", "pm.pe"))} AS cos
           FROM e c JOIN pm ON c.bucket = pm.bucket AND c.vec_id != pm.probe_id),
         ann AS (SELECT probe_id, vec_id FROM (
             SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, vec_id) AS rk
             FROM s) WHERE rk <= 3),
         hit AS (SELECT ex.probe_id, count(*) AS n_hit
           FROM ex JOIN ann ON ex.probe_id = ann.probe_id
             AND ex.vec_id = ann.vec_id
           GROUP BY ex.probe_id),
         tot AS (SELECT probe_id, count(*) AS n_exact FROM ex GROUP BY probe_id)
         SELECT t.probe_id, t.n_exact, coalesce(h.n_hit, 0) AS n_hit,
           ${r4Sql("CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE)")} AS recall
         FROM tot t LEFT JOIN hit h ON t.probe_id = h.probe_id
         ORDER BY t.probe_id""",
    "simsearch_pq" -> pqOracleSqlStr,
    // The persisted-index variant replays the identical deterministic
    // training, so the SAME oracle gates that persistence round-trips
    // bit-identically (doubles and codes are exact through parquet).
    "simsearch_pq_index" -> pqOracleSqlStr,
    "simsearch_index_upsert" -> pqUpsertOracleSqlStr,
    "simsearch_ivf" -> ivfOracleSqlStr,
    // Same serve math off the persisted cell layout; parquet round-trips
    // floats/norms/cells exactly, so one oracle gates both paths.
    "simsearch_ivf_index" -> ivfOracleSqlStr,
    "simsearch_ivf_upsert" -> ivfUpsertOracleSqlStr,
    "dedup_embedding" ->
      s"""WITH bk AS (SELECT vec_id, label, embedding, $srpBucketSql AS bucket
             FROM embeddings),
         pr AS (SELECT CAST(a.label AS BIGINT) AS label, a.vec_id AS v1, b.vec_id AS v2,
             ${r4Sql(cosSql("a.embedding", "b.embedding"))} AS cos
           FROM bk a JOIN bk b
             ON a.label = b.label AND a.vec_id < b.vec_id
             AND len(list_filter(range(1, 9), i -> a.bucket[i] != b.bucket[i])) <= 1)
         SELECT label,
           CAST(row_number() OVER (PARTITION BY label ORDER BY cos DESC, v1, v2) AS BIGINT) AS rk,
           v1, v2, cos
         FROM pr QUALIFY rk <= 3 ORDER BY label, rk""",
    "multimodal_join_stats" ->
      s"""WITH j AS (SELECT d.lang, CAST(e.label AS BIGINT) AS label, d.n_chars,
             sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS norm
           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)
         SELECT lang, label, count(*) AS n,
           floor((CAST(sum(CAST(floor((norm) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_norm,
           floor((CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_chars
         FROM j GROUP BY lang, label ORDER BY lang, label""",
    "multimodal_binary_meta" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS content_md5,
         to_base64(encode(substring(text, 1, 8))) AS head8_b64
         FROM documents ORDER BY doc_id""",
    "multimodal_frame_sample" ->
      """WITH d AS (
           SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
         f AS (
           SELECT doc_id, text, n, CAST(unnest(range(4)) AS BIGINT) AS frame_no
           FROM d),
         g AS (
           SELECT doc_id, text, n, frame_no, n // 4 AS step,
             frame_no * (n // 4) + 1 AS off
           FROM f
           WHERE frame_no = 0 OR n // 4 > 0),
         h AS (
           SELECT doc_id, frame_no, off, substring(text, off, 8) AS frame
           FROM g WHERE off <= n)
         SELECT doc_id, frame_no, off,
           CAST(length(frame) AS BIGINT) AS frame_len,
           md5(frame) AS frame_md5,
           to_base64(encode(frame)) AS frame_b64
         FROM h ORDER BY doc_id, frame_no""",
    "multimodal_audio_vad" ->
      s"""WITH d AS (
           SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
           FROM documents),
         f AS (
           SELECT doc_id, text, n,
             CAST(unnest(range(16)) AS BIGINT) AS frame_no
           FROM d),
         g AS (
           SELECT doc_id, text, n, frame_no, n // 16 AS step,
             frame_no * (n // 16) + 1 AS off
           FROM f WHERE frame_no = 0 OR n // 16 > 0),
         h AS (
           SELECT doc_id, frame_no,
             CAST(('0x' || substr(md5(substring(text, off, 12)), 1, 8))
               AS BIGINT) % 1000 AS energy
           FROM g WHERE off <= n),
         a AS (
           SELECT doc_id, frame_no, energy >= 500 AS active FROM h),
         r AS (
           SELECT doc_id, frame_no, active,
             CASE WHEN active AND NOT coalesce(lag(active, 1)
               OVER (PARTITION BY doc_id ORDER BY frame_no), false)
               THEN 1 ELSE 0 END AS new_run
           FROM a),
         ri AS (
           SELECT doc_id, frame_no, active,
             CAST(sum(new_run) OVER (PARTITION BY doc_id ORDER BY frame_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS run_id
           FROM r),
         seg0 AS (
           SELECT doc_id, run_id, CAST(count(*) AS BIGINT) AS len,
             min(frame_no) AS seg_start
           FROM ri WHERE active GROUP BY doc_id, run_id),
         seg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
             max(len) AS longest_seg, min(seg_start) AS first_seg_frame,
             CAST(sum(len) AS BIGINT) AS n_voiced
           FROM seg0 WHERE len >= 2 GROUP BY doc_id),
         tot AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
               AS n_active
           FROM a GROUP BY doc_id)
         SELECT t.doc_id, t.n_frames, t.n_active,
           coalesce(s.n_segments, 0) AS n_segments,
           s.longest_seg, s.first_seg_frame,
           coalesce(s.n_voiced, 0) AS n_voiced,
           ${r4Sql("""CAST(coalesce(s.n_voiced, 0) AS DOUBLE) /
             CAST(t.n_frames AS DOUBLE)""")} AS voiced_ratio
         FROM tot t LEFT JOIN seg s ON s.doc_id = t.doc_id
         ORDER BY t.doc_id""",
    "multimodal_scene_cuts" ->
      """WITH d AS (
           SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
           FROM documents),
         f AS (
           SELECT doc_id, text, n, CAST(unnest(range(8)) AS BIGINT) AS frame_no
           FROM d),
         g AS (
           SELECT doc_id, text, n, frame_no, n // 8 AS step,
             frame_no * (n // 8) + 1 AS off
           FROM f WHERE frame_no = 0 OR n // 8 > 0),
         h AS (
           SELECT doc_id, frame_no,
             CAST(('0x' || substr(md5(substring(text, off, 12)), 1, 8))
               AS BIGINT) AS feat
           FROM g WHERE off <= n),
         l AS (
           SELECT doc_id, frame_no, feat,
             abs(feat - lag(feat, 1) OVER (PARTITION BY doc_id
               ORDER BY frame_no)) AS delta
           FROM h),
         c AS (
           SELECT doc_id, frame_no, delta,
             delta IS NOT NULL AND delta > 2147483648 AS is_cut
           FROM l)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
           max(delta) AS max_delta,
           min(CASE WHEN is_cut THEN frame_no END) AS first_cut
         FROM c GROUP BY doc_id ORDER BY doc_id""")
}
