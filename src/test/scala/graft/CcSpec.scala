package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Cross-checks the two connected-components fixpoint engines against a
  * driver-side union-find oracle on adversarial graph shapes — path
  * graphs (maximum diameter, the shape where naive propagation needs
  * diameter rounds), descending/shuffled id labelings (worst case for
  * min-label direction), forests, and duplicate/bidirectional edge
  * lists. Both engines must produce the identical (node → min-id root)
  * mapping. */
class CcSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)], clue: String): Unit = {
    val df = edges.toDF("d1", "d2")
    val expected = unionFind(edges)
    val lss = Dedup.ccLargeSmallStar(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mlp = Dedup.ccMinLabel(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lss == expected, s"$clue: large-small-star != union-find")
    assert(mlp == expected, s"$clue: min-label != union-find")
  }

  test("path graph, ascending ids") {
    check((0L until 20L).sliding(2).map(s => (s(0), s(1))).toSeq, "asc path")
  }

  test("path graph, descending ids (root at the far end)") {
    check((0L until 20L).sliding(2).map(s => (19L - s(0), 19L - s(1))).toSeq,
      "desc path")
  }

  test("path graph, shuffled sparse ids") {
    val rnd = new scala.util.Random(7)
    val perm = rnd.shuffle((0L until 200L).toList).take(33).toArray
    check((0 until 32).map(i => (perm(i), perm(i + 1))), "shuffled path")
  }

  test("random forests with multiple components") {
    (1 to 3).foreach { s =>
      val rnd = new scala.util.Random(s)
      val ids = rnd.shuffle((0L until 500L).toList).take(40).toArray
      val edges = (1 until 20).map(i => (ids(rnd.nextInt(i)), ids(i))) ++
        (21 until 40).map(i => (ids(20 + rnd.nextInt(i - 20)), ids(i)))
      check(edges, s"random forest seed=$s")
    }
  }

  test("duplicate edges and both orientations collapse") {
    check(Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 2L), (5L, 4L)), "dups")
  }

  test("star edges span the same components as the full pair expansion") {
    // candidateStarEdges replaces each bucket clique with member→min star
    // edges; over any shared token base the resulting components (and
    // min-id roots) must be identical to CC over the full pair set.
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c e"), (4L, "x y z w"),
      (5L, "x y z w"), (6L, "p q r s"), (7L, "a b c d e"), (8L, "x y z v"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), lit("s0").as("source"),
        array_distinct(split(col("text"), " ")).as("toks"))
    val viaPairs = Dedup.ccLargeSmallStar(
        Dedup.candidatePairs(docs, "s"), inputCanonical = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStars = Dedup.ccLargeSmallStar(
        Dedup.candidateStarEdges(docs, "s"), inputCanonical = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars == viaPairs, "star-edge CC diverged from pair-edge CC")
    assert(viaStars.nonEmpty, "fixture produced no candidate buckets")
  }

  test("fixpoints are checkpoint-mode agnostic (reliable == local)") {
    // Util.iterCheckpoint switches every iterative fixpoint between
    // executor-memory localCheckpoint (default) and reliable checkpoint()
    // (cluster-grade fault tolerance). The switch must be invisible to
    // results AND to the Observation-based convergence detection that
    // rides the checkpoint jobs.
    val rnd = new scala.util.Random(11)
    val ids = rnd.shuffle((0L until 300L).toList).take(30).toArray
    val edges = (1 until 30).map(i => (ids(rnd.nextInt(i)), ids(i))) ++
      Seq((ids(0), ids(29)))   // extra cycle edge
    val df = edges.toDF("d1", "d2")
    val expected = unionFind(edges)
    spark.conf.set("spark.graft.checkpointMode", "reliable")
    try {
      val lss = Dedup.ccLargeSmallStar(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val mlp = Dedup.ccMinLabel(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lss == expected, "reliable-mode large-small-star != union-find")
      assert(mlp == expected, "reliable-mode min-label != union-find")
      // Storage reclamation: ChainCheckpoint deletes each superseded
      // round's files, so after both fixpoints the checkpoint dir holds
      // only the surviving chain tails + the persistent edge frame —
      // NOT one rdd dir per round (~10+ rounds ran above).
      val ckptDir = spark.sparkContext.getCheckpointDir.get
      val root = new java.io.File(new java.net.URI(
        if (ckptDir.contains(":")) ckptDir else "file:" + ckptDir))
      def rddDirs(f: java.io.File): Int =
        if (f.isDirectory)
          (if (f.getName.startsWith("rdd-")) 1 else 0) +
            Option(f.listFiles()).toSeq.flatten.map(rddDirs).sum
        else 0
      val survivors = rddDirs(root)
      assert(survivors <= 3,
        s"$survivors rdd checkpoint dirs survive — superseded rounds not reclaimed")
    } finally spark.conf.unset("spark.graft.checkpointMode")
  }

  test("canonical-input fast path matches the defensive path") {
    // distinct d1 < d2 pairs — the candidatePairs output contract
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 9L), (9L, 11L), (20L, 21L))
    val df = edges.toDF("d1", "d2")
    val fast = Dedup.ccLargeSmallStar(df, inputCanonical = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == unionFind(edges), "fast path diverged from union-find")
  }

  test("incremental cc: a batch doc merges two standing components; untouched comps stay out") {
    // Ta/Tb are SEARCHED token sets (seeded, reproducible offline with
    // the engine's own md5-minhash arithmetic) such that the union
    // doc's band-0 signature equals Ta's and band-1 equals Tb's, while
    // Ta and Tb never collide with each other — the deterministic
    // "batch doc bridges two standing clusters" case LSH fixtures
    // normally can't pin.
    val ta = "psi ten mu alpha three theta"
    val tb = "six eight gamma upsilon epsilon eta"
    val bridge = ta + " " + tb
    def doc(id: Long, text: String) = graft.DocRow(id, text, "en", "s0", text.length.toLong)
    val dir = fixtureDir("documents" -> Seq(
      doc(1L, ta), doc(2L, ta),          // standing comp A (root 1)
      doc(8L, tb), doc(9L, tb),          // standing comp B (root 8)
      doc(3L, "red green blue cyan magenta yellow"),
      doc(4L, "red green blue cyan magenta yellow"), // untouched standing comp
      doc(14L, bridge),                  // batch: bridges A and B
      doc(21L, "foo bar baz qux quux corge")         // batch singleton
    ).toDF)
    val out = Dedup.ccIncremental(spark, dir).collect()
    val roots = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roots == Map(1L -> 1L, 2L -> 1L, 8L -> 1L, 9L -> 1L, 14L -> 1L),
      s"bridge doc must merge both standing comps into root 1: $roots")
    assert(out.forall(_.getAs[Long]("n_members") == 5L))
    assert(out.map(r => r.getLong(0) -> r.getAs[Long]("is_batch")).toMap ==
      Map(1L -> 0L, 2L -> 0L, 8L -> 0L, 9L -> 0L, 14L -> 1L))
    // untouched comp {3,4} and the batch singleton 21 are absent
    assert(!roots.keySet.exists(Set(3L, 4L, 21L)))
  }

  test("incremental cc: standing index builds once across repeated serves") {
    val dir = "/root/testdata/sf0.001"
    val before = CorpusScope.builds("ccIndex")
    val a = Dedup.ccIncremental(spark, dir).collect()
    val mid = CorpusScope.builds("ccIndex")
    val b = Dedup.ccIncremental(spark, dir).collect()
    assert(CorpusScope.builds("ccIndex") == mid && mid <= before + 1,
      "second serve must reuse the persisted standing labels/buckets")
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq,
      "serves must be deterministic")
  }
}
