package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Text}

class TextDedupSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def doc(id: Long, text: String, source: String = "s0", lang: String = "en") =
    DocRow(id, text, lang, source, text.length.toLong)

  test("bpe merge: same-token runs merge left-to-right non-overlapping") {
    // winning pair is (a, a) — the only case where occurrences can
    // overlap; a run a^L must merge ⌊L/2⌋ pairs anchored left.
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "a a a a a"), doc(2, "a a a"), doc(3, "a a b a a a a"),
      doc(4, "b a a"), doc(5, "a")).toDF)
    val out = Text.bpeMerge(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1).getAs[String]("merged_text") == "a_a a_a a")
    assert(out(1).getAs[Long]("n_merges") == 2)
    assert(out(2).getAs[String]("merged_text") == "a_a a")
    assert(out(3).getAs[String]("merged_text") == "a_a b a_a a_a")
    assert(out(4).getAs[String]("merged_text") == "b a_a")
    assert(out(5).getAs[String]("merged_text") == "a")
    assert(out(5).getAs[Long]("n_merges") == 0)
  }

  test("exact dedup collapses identical content to min doc_id") {
    val dir = fixtureDir("documents" -> Seq(
      doc(3, "a b c"), doc(1, "a b c"), doc(2, "x y")).toDF)
    val out = Text.dedupExact(spark, dir).collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("doc_id") == 1 && out(0).getAs[Long]("n_copies") == 2)
    assert(out(1).getAs[Long]("doc_id") == 2 && out(1).getAs[Long]("n_copies") == 1)
  }

  test("exact dedup is idempotent") {
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "a b"), doc(2, "a b"), doc(3, "c")).toDF)
    val once = Text.dedupExact(spark, dir)
    val dir2 = fixtureDir("documents" ->
      once.join(Seq(doc(1, "a b"), doc(2, "a b"), doc(3, "c")).toDF, "doc_id")
        .select("doc_id", "text", "lang", "source", "n_chars"))
    val twice = Text.dedupExact(spark, dir2).collect()
    assert(twice.map(_.getAs[Long]("doc_id")).toSeq == once.collect().map(_.getAs[Long]("doc_id")).toSeq)
    assert(twice.forall(_.getAs[Long]("n_copies") == 1))
  }

  test("identical docs in one source have Jaccard 1.0") {
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "a b c"), doc(2, "a b c"), doc(3, "q r s t", source = "s1")).toDF)
    val out = Text.dedupNearJaccard(spark, dir).collect()
    val s0 = out.find(_.getAs[String]("source") == "s0").get
    assert(s0.getAs[Long]("n_pairs") == 1 && s0.getAs[Long]("n_near") == 1)
    assert(s0.getAs[Double]("avg_jac") == 1.0)
  }

  test("chunked bitmask spans >64-token vocabularies exactly") {
    // 90-token vocabulary forces multi-word masks: doc1 = t0..t59,
    // doc2 = t30..t89 → |∩| = 30, |∪| = 90, Jaccard = 1/3 exactly.
    val t1 = (0 until 60).map(i => s"t$i").mkString(" ")
    val t2 = (30 until 90).map(i => s"t$i").mkString(" ")
    val dir = fixtureDir("documents" -> Seq(doc(1, t1), doc(2, t2)).toDF)
    val out = Text.dedupNearJaccard(spark, dir).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_pairs") == 1)
    assert(out(0).getAs[Double]("avg_jac") == math.floor(1.0 / 3.0 * 1e4 + 0.5) / 1e4)
  }

  test("vocab build assigns dense ids by frequency desc, token asc") {
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "b a b c a b")).toDF)
    val out = Text.vocabBuild(spark, dir).collect()
      .map(r => (r.getAs[Long]("token_id"), r.getAs[String]("token"), r.getAs[Long]("n")))
    assert(out.toSeq == Seq((0L, "b", 3L), (1L, "a", 2L), (2L, "c", 1L)))
  }

  test("chunk split: overlap, boundary, and short-doc edge cases") {
    val t14 = (1 to 14).map(i => s"w$i").mkString(" ")   // 2 chunks: 1..8, 7..14
    val t8 = (1 to 8).map(i => s"w$i").mkString(" ")     // exactly one window
    val dir = fixtureDir("documents" -> Seq(
      doc(1, t14), doc(2, t8), doc(3, "a b")).toDF)
    val out = Text.chunkSplit(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[String]("chunk_text"), r.getAs[Long]("n_tok")))
    assert(out.toSeq == Seq(
      (1L, 0L, (1 to 8).map(i => s"w$i").mkString(" "), 8L),
      (1L, 1L, (7 to 14).map(i => s"w$i").mkString(" "), 8L),
      (2L, 0L, t8, 8L),
      (3L, 0L, "a b", 2L)))
  }

  test("quality score handles single-token documents (no div-by-zero)") {
    val dir = fixtureDir("documents" -> Seq(doc(1, "join")).toDF)
    val r = Text.qualityScore(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_tok") == 1)
    assert(r.getAs[Double]("stop_ratio") == 1.0)
    assert(r.getAs[Double]("avg_tok_len") == 4.0)
  }

  test("fingerprint is token-order invariant, distinct-count is not fooled by repeats") {
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "a b c"), doc(2, "c b a"), doc(3, "a a a")).toDF)
    val out = Text.fingerprint(spark, dir).collect()
    assert(out(0).getAs[String]("fp_minhash") == out(1).getAs[String]("fp_minhash"))
    assert(out(2).getAs[Long]("n_uniq_tok") == 1)
  }

  test("minhash LSH surfaces identical docs as verified candidates") {
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "a b c d e f"), doc(2, "a b c d e f"), doc(3, "z y x w v u")).toDF)
    val out = Dedup.minhashLsh(spark, dir).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_candidates") >= 1 && out(0).getAs[Long]("n_verified") >= 1)
  }

  test("simhash buckets identical docs together") {
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "a b c d"), doc(2, "a b c d")).toDF)
    val out = Dedup.simhash(spark, dir).collect()
    assert(out.length == 1 && out(0).getAs[Long]("n_docs") == 2)
  }

  test("token top-k breaks count ties by token ascending") {
    val dir = fixtureDir("documents" -> Seq(doc(1, "b a b a c")).toDF)
    val out = Text.tokenTopk(spark, dir).collect()
    assert(out.map(_.getAs[String]("token")).toSeq == Seq("a", "b", "c"))
  }

  test("cc groups: identical docs form one component rooted at min doc_id") {
    val dir = fixtureDir("documents" -> Seq(
      doc(5, "a b c d e f"), doc(2, "a b c d e f"), doc(9, "a b c d e f"),
      doc(3, "z y x w v u"), doc(7, "z y x w v u"),
      doc(11, "lone wolf doc q")).toDF)
    val out = Dedup.ccGroups(spark, dir).collect()
    val byDoc = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("root"), r.getAs[Long]("n_members"))).toMap
    assert(byDoc(2L) == (2L, 3L) && byDoc(5L) == (2L, 3L) && byDoc(9L) == (2L, 3L))
    assert(byDoc(3L) == (3L, 2L) && byDoc(7L) == (3L, 2L))
    assert(!byDoc.contains(11L)) // no candidate pair -> not in the graph
  }

  test("edit distance: zero for identical candidate texts, sim in [0,1]") {
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "a b c d e f"), doc(2, "a b c d e f"), doc(3, "a b c d e g")).toDF)
    val out = Dedup.editDistance(spark, dir).collect()
    assert(out.nonEmpty)
    val p12 = out.find(r => r.getAs[Long]("d1") == 1L && r.getAs[Long]("d2") == 2L).get
    assert(p12.getAs[Long]("lev") == 0L && p12.getAs[Double]("sim") == 1.0)
    out.foreach { r =>
      val s = r.getAs[Double]("sim"); assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("bm25: higher tf wins within a term; rarer term carries higher idf") {
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "join join join a b"),
      doc(2, "join a b c d"),
      doc(3, "filter a b c d")).toDF)
    val out = Text.bm25(spark, dir).collect()
    val join1 = out.filter(_.getAs[String]("token") == "join")
    assert(join1.map(r => (r.getAs[Long]("rk"), r.getAs[Long]("doc_id"))).toSeq
      == Seq((1L, 1L), (2L, 2L)))
    // df(filter)=1 < df(join)=2 ⇒ idf larger; tf and dl equal across docs 2/3
    val fJoin = out.find(r => r.getAs[String]("token") == "join" && r.getAs[Long]("doc_id") == 2L).get
    val fFil = out.find(_.getAs[String]("token") == "filter").get
    assert(fFil.getAs[Double]("score") > fJoin.getAs[Double]("score"))
  }

  test("normalize strips case/punctuation, collapses whitespace, drops stopwords") {
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "Make it, JOIN fast"),
      doc(2, "clean text stays")).toDF)
    val out = Text.normalize(spark, dir).collect()
    assert(out(0).getAs[String]("norm_text") == "make it fast")
    assert(out(0).getAs[Long]("n_tok_raw") == 4L && out(0).getAs[Long]("n_tok_norm") == 3L)
    assert(out(0).getAs[Long]("changed") == 1L)
    assert(out(1).getAs[String]("norm_text") == "clean text stays")
    assert(out(1).getAs[Long]("changed") == 0L)
  }

  test("unigram logprob: uniform model scores every token ln(1/2)") {
    // corpus "a a b" + "b": counts a=2, b=2, total=4 → every token's
    // log-prob is ln(0.5); both docs average to r4(ln 0.5) = -0.6931.
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "a a b"), doc(2, "b")).toDF)
    val out = Text.unigramLogprob(spark, dir).collect()
    val byDoc = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_tok"), r.getAs[Double]("avg_logprob"))).toMap
    assert(byDoc == Map(1L -> ((3L, -0.6931)), 2L -> ((1L, -0.6931))))
    assert(out.forall(_.getAs[Double]("rarest_logprob") == -0.6931))
  }

  test("unigram logprob: rarer tokens score lower than common ones") {
    // "x" appears once in 8 tokens, "c" six times: lp(x) < lp(c), so the
    // doc holding the rare tokens has the lower (more negative) average.
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "c c c c c"), doc(2, "c x d")).toDF)
    val out = Text.unigramLogprob(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob")).toMap
    assert(out(2L) < out(1L))
  }

  test("minhash global: a cross-source duplicate forms one cluster, lowest id keeps") {
    val t = "alpha beta gamma delta epsilon"
    val dir = fixtureDir("documents" -> Seq(
      doc(1, t, source = "s0"), doc(2, t, source = "s1"),
      doc(3, "totally different content here", source = "s0")).toDF)
    val g = Dedup.minhashGlobal(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_dropped"), r.getAs[Long]("n_xsource")))).toMap
    // cluster {1, 2} spans both sources; equal quality ties to doc 1
    assert(g("s0") == ((2L, 2L, 0L, 1L)))   // doc 1 keeps, doc 3 singleton
    assert(g("s1") == ((1L, 0L, 1L, 1L)))   // doc 2 dropped cross-source
    // contrast: the per-source pipeline cannot see the pair — everything survives
    val per = Dedup.pipelineE2e(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_kept")).toMap
    assert(per("s0") == 2L && per("s1") == 1L)
  }

  test("incremental dedup tiers: exact by hash, near by standing LSH probe, else unique") {
    // batch = doc_id % 7 == 0 → docs 7, 14, 21; standing → docs 1, 2, 3
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "alpha beta gamma delta epsilon"),
      doc(2, "one two three four five six"),
      doc(3, "noise words nothing shared anywhere"),
      doc(7, "alpha beta gamma delta epsilon"),          // byte-identical to 1
      doc(14, "two one three four five six"),            // same token SET as 2
      doc(21, "entirely fresh material never seen")).toDF)
    val out = Dedup.incremental(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), r.getAs[Long]("match_id"),
          r.getAs[Double]("best_jac")))).toMap
    assert(out(7L) == (("exact", 1L, 1.0)))
    assert(out(14L) == (("near", 2L, 1.0)))  // reordered text: hash differs, set identical
    assert(out(21L)._1 == "unique" && out(21L)._2 == -1L)
    assert(out.size == 3)                    // standing docs never re-deduped
  }

  test("bpe train: merge table over three rounds matches the hand computation") {
    // doc1 "a a a a", doc2 "a a b":
    //   r1: (a,a)=4 wins; doc1→[a_a a_a] (2 merges), doc2→[a_a b] (1)
    //   r2: (a_a,a_a) and (a_a,b) both 1 — tie breaks to t2='a_a'; 1 merge
    //   r3: (a_a,b)=1 wins; 1 merge; then no pairs remain → loop ends early
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "a a a a"), doc(2, "a a b")).toDF)
    val rows = Text.bpeTrain(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("round")).toSeq == Seq(1L, 2L, 3L))
    val byRound = rows.map(r => r.getAs[Long]("round") ->
      ((r.getAs[String]("t1"), r.getAs[String]("t2"),
        r.getAs[Long]("cnt"), r.getAs[Long]("n_merges")))).toMap
    assert(byRound(1L) == (("a", "a", 4L, 3L)))
    assert(byRound(2L) == (("a_a", "a_a", 1L, 1L)))
    assert(byRound(3L) == (("a_a", "b", 1L, 1L)))
  }

  test("bpe encode: final corpus state after an early-stopped training loop") {
    // Same corpus as the train test: training stops after round 3 (no
    // pairs remain). Encode must serve the post-round-3 state: doc1
    // collapsed to [a_a_a_a → wait, r2 merged (a_a,a_a) in doc1 →
    // [a_a_a_a]; r3 merged (a_a,b) in doc2 → [a_a_b]] — both single
    // tokens, and the early stop must NOT lose them.
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "a a a a"), doc(2, "a a b")).toDF)
    val out = Text.bpeEncode(spark, dir).collect()
    assert(out.length == 2)
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_tok_before"), r.getAs[Long]("n_tok"),
        r.getAs[String]("encoded_text")))).toMap
    assert(byId(1L) == ((4L, 1L, "a_a_a_a")))
    assert(byId(2L) == ((3L, 1L, "a_a_b")))
  }

  test("global ngram dedup pairs a cross-source duplicate that per-source blocking misses") {
    val t = "alpha beta gamma delta epsilon zeta"
    val dir = fixtureDir("documents" -> Seq(
      doc(1, t, source = "s0"), doc(2, t, source = "s1"),
      doc(3, "unrelated words only here now", source = "s0")).toDF)
    // per-source: docs 1 and 2 never meet (different blocks), doc 3 shares
    // nothing — the per-source query sees zero candidate pairs at all.
    assert(Text.dedupNgramJaccard(spark, dir).collect().isEmpty)
    val g = Text.dedupNgramGlobal(spark, dir).collect()
    assert(g.length == 1)
    val r = g(0)
    assert(r.getAs[Long]("cross_source") == 1L)
    assert(r.getAs[Long]("n_pairs") == 1L && r.getAs[Long]("n_near") == 1L)
    assert(r.getAs[Long]("first_d1") == 1L)
    assert(r.getAs[Double]("avg_jac") == 1.0) // identical shingle sets
  }

  test("pii mask: emails, ipv4s, and phones are masked and counted") {
    val dir = fixtureDir("documents" -> Seq(doc(12, "hello plain words")).toDF)
    val r = Text.piiMask(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_email") == 1L)
    assert(r.getAs[Long]("n_ip") == 1L)
    assert(r.getAs[Long]("n_phone") == 1L)
    val m = r.getAs[String]("masked")
    assert(m.contains("<EMAIL>") && m.contains("<IP>") && m.contains("<PHONE>"))
    assert(!m.contains("@") && !m.contains("+1-555"))
    assert(!m.matches(".*[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+.*")) // 10.12.0.5 gone
    assert(r.getAs[Long]("masked_len") == m.length.toLong)
  }

  test("quality buckets: quartiles tile each lang with non-overlapping score ranges") {
    // 8 docs, one lang: doc i holds i stopwords out of 8 equal-length
    // tokens, so the composite score is strictly increasing in i.
    val dir = fixtureDir("documents" -> (1L to 8L).map { i =>
      val t = (Seq.fill(i.toInt)("join") ++ Seq.fill(8 - i.toInt)("aaaa")).mkString(" ")
      doc(i, t)
    }.toDF)
    val out = Text.qualityBuckets(spark, dir).collect()
    assert(out.map(_.getAs[Long]("quartile")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.map(_.getAs[Long]("n_docs")).toSeq == Seq(2L, 2L, 2L, 2L))
    // strictly increasing score ⇒ adjacent quartile ranges cannot overlap
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("max_q") <= b.getAs[Double]("min_q"))
    }
  }

  test("domain mix: weights normalize to 1 and temperature flattens the shares") {
    val dir = fixtureDir("documents" ->
      ((1L to 9L).map(i => doc(i, "a b", source = "big")) :+
        doc(10, "a b", source = "small")).toDF)
    val out = Text.domainMix(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Double]("p"), r.getAs[Double]("weight"),
          r.getAs[Long]("budget_per_100k")))).toMap
    val (pB, wB, qB) = out("big"); val (pS, wS, qS) = out("small")
    assert(math.abs(pB - 0.9) < 1e-9 && math.abs(pS - 0.1) < 1e-9)
    assert(math.abs(wB + wS - 1.0) < 1e-5)
    assert(wB < pB && wS > pS) // α=0.5 damps the head, boosts the tail
    assert(qB + qS <= 100000L && qB + qS >= 99998L)
  }

  test("repetition stats: duplicate-token and top-bigram fractions flag the loopy doc") {
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "spam spam spam spam"),       // dup_frac 0.75, bg 'spam spam' ×3 → 6/4 clamped to 1.0
      doc(2, "all tokens here differ ok"), // dup 0, bigrams unique → 0.4
      doc(3, "x")                          // 1 token: both fracs 0, unflagged
    ).toDF)
    val out = Text.repetitionStats(spark, dir).collect()
      .map(r => r.getAs[Boolean]("flagged") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("avg_dup_frac"),
          r.getAs[Double]("max_bg_frac")))).toMap
    assert(out(true) == ((2L, 0.375, 1.0)),
      "doc1 flagged by dup_frac; doc2 by bg_frac 0.4 > 0.2")
    assert(out(false) == ((1L, 0.0, 0.0)))
  }

  test("span merge: straddling duplicates merge into one maximal span; chunk-exact misses them") {
    // docs 1/2 share tokens 0..9 (three overlapping 8-windows at pos 0,1,2
    // in doc 1 → ONE merged span [0,10)); doc 3 shares nothing.
    val shared = "a b c d e f g h i j"
    val dir = fixtureDir("documents" -> Seq(
      doc(1, shared + " k1 l1 m1 n1 o1 p1"),
      doc(2, shared + " k2 l2 m2 n2 o2 p2"),
      doc(3, "q r s t u v w x y z q2 r2 s2 t2 u2 v2")
    ).toDF)
    val out = Text.dedupSpanMerge(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens"),
          r.getAs[Long]("max_span_len")))).toMap
    assert(out.keySet == Set(1L, 2L), "only the sharing docs carry spans")
    assert(out(1L) == ((1L, 10L, 10L)), "three overlapping windows → one [0,10) span")
    assert(out(2L) == ((1L, 10L, 10L)))
  }

  test("span merge: disjoint duplicated regions stay separate islands") {
    // doc 1 vs doc 2: duplicated 8-token block, 9 unique tokens, then
    // another duplicated 8-token block → two islands of 8 tokens each.
    val b1 = "a b c d e f g h"; val b2 = "p q r s t u v w"
    val dir = fixtureDir("documents" -> Seq(
      doc(1, s"$b1 x1 x2 x3 x4 x5 x6 x7 x8 x9 $b2"),
      doc(2, s"$b1 y1 y2 y3 y4 y5 y6 y7 y8 y9 $b2")
    ).toDF)
    val out = Text.dedupSpanMerge(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens")))).toMap
    assert(out(1L) == ((2L, 16L)), "two disjoint 8-token spans")
    assert(out(2L) == ((2L, 16L)))
  }

  test("pagerank: the star hub outranks leaves; isolated docs stay out; mass is conserved") {
    // Five exact duplicates share every band bucket → star edges from the
    // min doc_id: deg(1)=4, deg(2..5)=1. Docs 6/7 use disjoint vocab and
    // join no bucket — they must not appear.
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = fixtureDir("documents" -> Seq(
      doc(1, dup), doc(2, dup), doc(3, dup), doc(4, dup), doc(5, dup),
      doc(6, "one two three four five six seven eight"),
      doc(7, "red green blue cyan magenta yellow black white")
    ).toDF)
    val out = Dedup.graphPagerank(spark, dir).collect()
    assert(out.length == 5, "only the connected component's nodes are ranked")
    assert(out.head.getAs[Long]("doc_id") == 1L && out.head.getAs[Long]("degree") == 4L,
      "the star hub has max degree and max rank")
    assert(out.tail.forall(_.getAs[Double]("pr") < out.head.getAs[Double]("pr")))
    val total = out.map(_.getAs[Double]("pr")).sum
    assert(math.abs(total - 1.0) < 1e-4, s"rank mass ~1 (got $total)")
  }

  test("triangles: an exact-dup clique is all-triangles; disjoint docs stay out") {
    // Docs 1-5 identical → every pair shares every band bucket → the
    // candidate graph is K5: each node has degree 4, sits in C(4,2)=6
    // triangles, coefficient exactly 1. Docs 6/7 share no bucket with
    // anything → absent from the edge set entirely.
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = fixtureDir("documents" -> Seq(
      doc(1, dup), doc(2, dup), doc(3, dup), doc(4, dup), doc(5, dup),
      doc(6, "one two three four five six seven eight"),
      doc(7, "red green blue cyan magenta yellow black white")
    ).toDF)
    val out = Dedup.graphTriangles(spark, dir).collect()
    assert(out.length == 5, "only the clique's nodes appear")
    out.foreach { r =>
      assert(r.getAs[Long]("degree") == 4L)
      assert(r.getAs[Long]("n_tri") == 6L)
      assert(r.getAs[Double]("clust_coef") == 1.0)
    }
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("zipf fit: a perfect power law fits slope -1 with r2 = 1") {
    // freq(token_r) = 64/r for ranks 1,2,4,8,...: ln f = ln 64 − ln r —
    // exact slope −1. Build by repeating tokens; single doc suffices.
    val text = (Seq.fill(64)("t1") ++ Seq.fill(32)("t2") ++ Seq.fill(16)("t3") ++
      Seq.fill(8)("t4") ++ Seq.fill(4)("t5")).mkString(" ")
    val dir = fixtureDir("documents" -> Seq(doc(1, text)).toDF)
    val r = Text.zipfFit(spark, dir).collect().head
    assert(r.getAs[Long]("n_ranks") == 5)
    // ranks 1..5 with freqs 64,32,16,8,4: ln f = ln64 − ln2·ln-rank? No —
    // freq halves per RANK STEP, not per ln(rank) unit, so the fit is not
    // exactly −1; assert the direction and high r2 instead.
    assert(r.getAs[Double]("slope") < -1.0)
    assert(r.getAs[Double]("r2") > 0.9)
  }

  test("pmi bigrams: a always-paired bigram outranks one with promiscuous parts") {
    // 'new york' occurs 3×, and those are the only uses of either token
    // → PMI = ln(3N/9); 'the end' occurs 3× but 'the' appears 9× total.
    val dir = fixtureDir("documents" -> Seq(
      doc(1, "new york the end"), doc(2, "new york the end"),
      doc(3, "new york the end"), doc(4, "the cat the dog the fish")).toDF)
    val out = Text.pmiBigrams(spark, dir).collect()
    val pmi = out.map(r => (r.getAs[String]("a"), r.getAs[String]("b")) ->
      r.getAs[Double]("pmi")).toMap
    assert(pmi.contains(("new", "york")) && pmi.contains(("the", "end")))
    assert(pmi(("new", "york")) > pmi(("the", "end")))
    val n = 18.0 // total tokens
    assert(math.abs(pmi(("new", "york")) - math.floor(math.log(3 * n / 9) * 1e4 + 0.5) / 1e4) < 1e-9)
  }

  test("pack sequences: window count, boundary splits, and fill fraction are exact") {
    // one source, one shard; 100+100+100 tokens, C=256 → 2 windows;
    // doc2 spans the 256 cut (200..299), doc3 starts past it.
    val t100 = Seq.fill(100)("w").mkString(" ")
    val dir = fixtureDir("documents" -> Seq(
      doc(1, t100), doc(2, t100), doc(3, t100)).toDF)
    val r = Text.packSequences(spark, dir).collect().head
    assert(r.getAs[Long]("n_docs") == 3L && r.getAs[Long]("n_tokens") == 300L)
    assert(r.getAs[Long]("n_shards") == 1L && r.getAs[Long]("n_windows") == 2L)
    assert(r.getAs[Long]("n_split_docs") == 1L, "only doc2 crosses the cut")
    assert(r.getAs[Double]("fill_frac") == math.floor(300.0 / 512.0 * 1e4 + 0.5) / 1e4)
  }

  test("degree stats: three identical docs form a triangle (deg 2, avg nbr deg 2)") {
    val dup = "spark shuffle partition broadcast executor memory column " +
      "predicate codegen catalyst tungsten adaptive skew salt bucket"
    val rows = Seq(doc(1, dup), doc(2, dup), doc(3, dup),
      doc(4, "completely different words entirely unrelated content here " +
        "nothing shared with the duplicated template at all ever"))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Dedup.graphDegreeStats(spark, dir).collect()
    val d2 = out.find(_.getLong(0) == 2L)
    assert(d2.isDefined, s"expected a degree-2 class: ${out.mkString(";")}")
    assert(d2.get.getLong(1) == 3 && d2.get.getDouble(2) == 2.0,
      s"triangle nodes: 3 nodes of degree 2 with avg nbr deg 2: ${d2.get}")
  }

  test("source overlap: duplicated template across sources fills the right cells") {
    val dup = "spark shuffle partition broadcast executor memory column " +
      "predicate codegen catalyst tungsten adaptive skew salt bucket"
    val rows = Seq(doc(1, dup, source = "srcA"), doc(2, dup, source = "srcA"),
      doc(3, dup, source = "srcB"),
      doc(4, "totally unrelated vocabulary nothing else matches anywhere " +
        "disparate other terms beyond these words", source = "srcB"))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Dedup.dedupSourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // clique {1,2,3}: (1,2) within srcA; (1,3),(2,3) bridge srcA↔srcB
    assert(out(("srcA", "srcA")) == 1 && out(("srcA", "srcB")) == 2,
      s"overlap cells wrong: $out")
    assert(!out.contains(("srcB", "srcA")), "matrix must be upper-triangular")
  }

  test("dedup rate report: exact dups counted by content, near rate covers the clique") {
    val dup = "spark shuffle partition broadcast executor memory column " +
      "predicate codegen catalyst tungsten adaptive skew salt bucket"
    val rows = Seq(doc(1, dup), doc(2, dup), doc(3, dup),
      doc(4, "some completely different text with its own vocabulary " +
        "that shares nothing at all with the template words"))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val r = graft.ops.Dedup.dedupRateReport(spark, dir).collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 2, s"3 identical docs = 2 exact dups: $r")
    assert(r.getLong(3) == 3 && r.getDouble(6) == 0.75, s"clique of 3 in pairs: $r")
    assert(r.getLong(4) == 0, "single-source fixture has no cross-source pairs")
  }

  test("cluster sizes: histogram counts groups and the dup share reads off Σ(sz≥2)") {
    val dup = "identical content"
    val rows = Seq(doc(1, dup), doc(2, dup), doc(3, dup),
      doc(4, "unique one"), doc(5, "unique two"))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Dedup.dedupClusterSizes(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 2 && out(3L).getLong(1) == 1, s"histogram: $out")
    assert(out(1L).getDouble(3) == 0.6, "3 of 5 docs sit in a dup cluster")
  }

  // ---- graph_kcore: the peel is monotone ------------------------------

  test("kcore: node and edge counts never increase across peel rounds") {
    val out = Dedup.graphKcore(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getAs[Long]("round"))
    assert(out.length == 4)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_nodes") <= a.getAs[Long]("n_nodes"),
        "peeling must not add nodes")
      assert(b.getAs[Long]("n_edges") <= a.getAs[Long]("n_edges"),
        "peeling must not add edges")
    }
  }

  // ---- graph_common_neighbors: score-range + ordering invariants ------

  test("common neighbors: scores well-formed, ordered pairs, jaccard in (0,1]") {
    val out = Dedup.graphCommonNeighbors(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty, "sf0.001 candidate graph has wedges")
    out.foreach { r =>
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"), "pairs are ordered")
      assert(r.getAs[Long]("n_common") >= 1L)
      val j = r.getAs[Double]("nbr_jaccard")
      assert(j > 0.0 && j <= 1.0, s"jaccard out of range: $j")
    }
  }

  // ---- graph_modularity: closed-form Q on planted cliques -------------

  test("modularity: three equal duplicate cliques give Q = 2/3") {
    // 3 groups x 4 identical docs: identical texts share every LSH band
    // -> each group is a 4-clique (6 edges), no cross-group edges.
    // L_c = m/3, D_c = 2m/3 -> Q = 3*(1/3 - 1/9) = 2/3.
    val groups = Seq(
      "alpha beta gamma delta epsilon zeta",
      "one two three four five six",
      "red green blue yellow purple orange")
    val rows = for {
      (t, g) <- groups.zipWithIndex
      i <- 0 until 4
    } yield DocRow(g * 10L + i + 1, t, "en", s"src$i", t.length.toLong)
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val r = Dedup.queries("graph_modularity")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 12L && r.getAs[Long]("n_edges") == 18L,
      s"three 4-cliques expected: $r")
    assert(r.getAs[Long]("n_communities") == 3L, s"$r")
    assert(math.abs(r.getAs[Double]("q_modularity") - 2.0 / 3.0) < 1e-3,
      s"closed-form Q: $r")
  }

  // ---- dedup_cdc_chunks: content-defined boundaries re-align ----------

  test("cdc chunks: chunk boundaries survive a front insertion (anti-fixed-width)") {
    def toks(n: Int): Seq[String] =
      (0 until n).map(i => s"w${(i * i * 2654435761L) % 97}")
    val body = toks(200).mkString(" ")
    val shifted = "zzz yyy xxx " + body // 3 junk tokens prepended
    val rows = Seq(
      DocRow(1L, body, "en", "s1", body.length.toLong),
      DocRow(2L, body, "en", "s2", body.length.toLong),
      DocRow(3L, shifted, "en", "s3", shifted.length.toLong))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Dedup.dedupCdcChunks(spark, dir).collect()
    assert(out.nonEmpty, "identical docs must share chunks")
    // identical docs 1,2 share every reported chunk; the shifted doc 3
    // must RE-ALIGN after its prefix: at least one chunk is shared by
    // all three (fixed-offset chunking would share none with doc 3)
    val triple = out.filter(_.getAs[Long]("n_docs") == 3L)
    assert(triple.nonEmpty,
      "CDC must re-align chunks across a front insertion")
    triple.foreach { r =>
      assert(r.getAs[Long]("min_doc") == 1L &&
        r.getAs[Long]("max_doc") == 3L, s"triple-shared span: $r")
    }
    // every reported chunk is >= the 5-token report floor
    out.foreach(r => assert(r.getAs[Long]("token_len") >= 5L))
  }

  // ---- graph_bfs_layers: frontier contiguity and seed discipline ------

  test("bfs layers: contiguous non-empty layers from exactly 3 seeds, disjoint") {
    val out = Dedup.graphBfsLayers(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getAs[Long]("dist") -> r).toMap
    assert(out.keySet.subsetOf(Set(-1L, 0L, 1L, 2L, 3L)))
    assert(out(0L).getAs[Long]("n_nodes") == 3L,
      "BFS starts from exactly the 3 top-degree seeds")
    // frontier contiguity: a layer can only exist if the previous did
    (1L to 3L).foreach { t =>
      if (out.contains(t)) assert(out.contains(t - 1),
        s"layer $t cannot exist without layer ${t - 1}")
    }
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_nodes") > 0L)
      assert(r.getAs[Long]("min_doc") <= r.getAs[Long]("max_doc"))
    }
  }

  // ---- dedup_minhash_bbit: exactness at J=1 and the high-J tightening --

  test("b-bit minhash: identical docs estimate J=1 exactly; error tightens at high J") {
    // identical docs: every permutation's min matches, so every bit
    // matches -> A = 1 -> est = 1, abs err exactly 0
    val txt = (1 to 60).map(i => s"w${(i * 37) % 83}").mkString(" ")
    val rows = Seq(DocRow(1L, txt, "en", "a", 0L), DocRow(2L, txt, "en", "b", 0L))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Dedup.dedupMinhashBbit(spark, dir).collect()
    assert(out.length == 1 && out(0).getAs[Double]("bucket") == 1.0,
      s"identical docs land in the J=1 bucket: ${out.toSeq}")
    assert(out(0).getAs[Double]("mean_est") == 1.0)
    assert(out(0).getAs[Double]("mean_abs_err") == 0.0)
    // real corpus: the Li-König behavior — the top-J band's calibration
    // error is below the lowest band's (1-bit agreement is noisy at low
    // J, tight exactly where dedup thresholds live)
    val real = Dedup.dedupMinhashBbit(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getAs[Double]("bucket"))
    assert(real.length >= 2, "sf0.001 must produce multiple J bands")
    val lo = real.head.getAs[Double]("mean_abs_err")
    val hi = real.last.getAs[Double]("mean_abs_err")
    assert(hi < lo, s"error must tighten toward high J: low=$lo high=$hi")
    real.foreach { r =>
      val e = r.getAs[Double]("mean_est")
      assert(e >= 0.0 && e <= 1.0, s"estimator out of range: $r")
    }
  }

  private def cliqueDir(): String = {
    // Docs 1-5 identical -> candidate graph K5; docs 6/7 disjoint.
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    fixtureDir("documents" -> spark.createDataset(Seq(
      doc(1, dup), doc(2, dup), doc(3, dup), doc(4, dup), doc(5, dup),
      doc(6, "one two three four five six seven eight"),
      doc(7, "red green blue cyan magenta yellow black white"))).toDF)
  }

  test("adamic-adar: K5 pairs score 3 * r6(1/ln 4), all flagged edges") {
    val out = Dedup.graphAdamicAdar(spark, cliqueDir()).collect()
    assert(out.length == 10, s"K5 has C(5,2)=10 pairs, got ${out.length}")
    val expect = 3.0 * math.floor(1e6 / math.log(4.0) + 0.5) / 1e6
    out.foreach { r =>
      assert(r.getAs[Long]("n_common") == 3L, s"$r")
      assert(math.abs(r.getAs[Double]("aa_score") - expect) < 1e-9, s"$r")
      assert(r.getAs[Boolean]("is_edge"), s"clique pairs are edges: $r")
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
    }
  }

  test("assortativity: a regular graph has zero degree variance -> NULL") {
    val r = Dedup.graphAssortativity(spark, cliqueDir()).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 5L)
    assert(r.getAs[Long]("n_edges") == 10L)
    assert(r.getAs[Double]("mean_deg") == 4.0)
    assert(r.isNullAt(r.fieldIndex("assortativity")),
      s"4-regular K5 must yield null assortativity: $r")
  }

  test("local_clustering: wedge accounting holds on the real candidate graph") {
    val rows = Dedup.graphLocalClustering(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val deg = r.getAs[Long]("deg"); val w = r.getAs[Long]("n_wedges")
      assert(w == deg * (deg - 1) / 2, s"wedges != C(deg,2): $r")
      val lcc = r.getAs[Double]("lcc")
      assert(lcc >= 0.0 && lcc <= 1.0, s"lcc out of range: $r")
      assert(r.getAs[Long]("n_triangles") <= w)
    }
  }

  test("closeness_sample: planted triangle gives harmonic 2.0, closeness 1") {
    // 3 identical docs form a candidate-graph triangle; 2 unrelated docs
    // share no tokens -> graph = K3, seeds = the three members (deg 2),
    // each with n1 = 2, n2 = n3 = 0, n_nodes = 3 -> closeness = 1.0
    val same = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      DocRow(1L, same, "en", "s", same.length.toLong),
      DocRow(2L, same, "en", "s", same.length.toLong),
      DocRow(3L, same, "en", "s", same.length.toLong),
      DocRow(4L, "uno dos tres quatro cinco seis", "en", "s", 30L),
      DocRow(5L, "moon star cloud rain snow wind", "en", "s", 30L))
    val dir = fixtureDir("documents" -> spark.createDataset(docs).toDF)
    val r = Dedup.graphClosenessSample(spark, dir).collect()
    assert(r.length == 3)
    r.foreach { row =>
      assert(Set(1L, 2L, 3L).contains(row.getAs[Long]("seed")))
      assert(row.getAs[Long]("n1") == 2)
      assert(row.getAs[Long]("n2") == 0 && row.getAs[Long]("n3") == 0)
      assert(row.getAs[Long]("harmonic_micro") == 2000000L)
      assert(row.getAs[Double]("closeness") == 1.0)
    }
  }

  test("cascade_audit: each rung drops exactly its planted duplicate") {
    // docs 3/4: same token SET, different text -> identical minhash
    // signature (candidate in every band, deterministically) with
    // verified Jaccard 1.0, yet NOT an exact dup (md5 differs)
    val docs = Seq(
      DocRow(1L, "same text twin one copy here now", "en", "s", 32L),
      DocRow(2L, "same text twin one copy here now", "en", "s", 32L), // exact dup of 1
      DocRow(3L, "red orange yellow green blue indigo", "en", "s", 36L),
      DocRow(4L, "orange red yellow green indigo blue", "en", "s", 36L), // near dup of 3
      DocRow(5L, "lion tiger bear wolf fox deer", "en", "s", 30L),
      DocRow(6L, "ocean river lake pond creek bay", "en", "s", 30L))
    val embs = Seq(
      EmbRow(1L, Array(1f, 0f, 0f, 0f), 0),
      EmbRow(2L, Array(0f, 1f, 0f, 0f), 0),
      EmbRow(3L, Array(0f, 0f, 1f, 0f), 0),
      EmbRow(4L, Array(0f, 0f, 0f, 1f), 0),
      EmbRow(5L, Array(0.6f, 0.8f, 0f, 0f), 0),
      EmbRow(6L, Array(0.6f, 0.8f, 0f, 0f), 0)) // semantic dup of 5
    val dir = fixtureDir(
      "documents" -> spark.createDataset(docs).toDF,
      "embeddings" -> spark.createDataset(embs).toDF)
    val r = Dedup.dedupCascadeAudit(spark, dir).collect()
      .map(x => x.getAs[Long]("stage") -> x).toMap
    assert(r(1L).getAs[Long]("n_in") == 6 && r(1L).getAs[Long]("n_dropped") == 1)
    assert(r(2L).getAs[Long]("n_in") == 5 && r(2L).getAs[Long]("n_dropped") == 1)
    assert(r(3L).getAs[Long]("n_in") == 4 && r(3L).getAs[Long]("n_dropped") == 1)
    assert(r(3L).getAs[Long]("n_out") == 3)
    assert(math.abs(r(3L).getAs[Double]("drop_frac") - 0.25) < 1e-9)
  }

  // ---- graph_betweenness_sample: hand-computed Brandes on a path ------

  test("betweenness: path 1-2-3-4-5 gives the hand-computed truncated Brandes values") {
    // seeds = top-3 by degree, id tiebreak -> {2, 3, 4}.
    // Hand computation (depth cap 3, micro units):
    //   seed 2: d2 level: delta(4) = 1·(1+0)        = 1e6
    //           d1 level: delta(3) = 1·(1+delta(4)) = 2e6
    //   seed 3: dist3 empty; d1: delta(2) = 1e6 (child 1),
    //           delta(4) = 1e6 (child 5)
    //   seed 4: mirror of seed 2: delta(2) = 1e6, delta(3) = 2e6
    // totals: node2 = 2e6, node3 = 4e6, node4 = 2e6; endpoints absent.
    // (True Brandes check: from seed 2, node 3 carries pairs 2→4 and
    // 2→5 ⇒ δ = 2; symmetric from seed 4; node 2 carries 3→1 and 4→1.)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("d1", "d2")
    val out = Dedup.betweennessFromEdges(spark, edges).collect()
    val byNode = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("bc_micro"), r.getAs[Long]("n_seeds"),
        r.getAs[Double]("betweenness"))).toMap
    assert(byNode.keySet == Set(2L, 3L, 4L), s"wrong node set: $byNode")
    assert(byNode(2L) == ((2000000L, 2L, 2.0)))
    assert(byNode(3L) == ((4000000L, 2L, 4.0)))
    assert(byNode(4L) == ((2000000L, 2L, 2.0)))
    // ordering: bc desc then id asc -> 3, 2, 4
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L, 2L, 4L))
  }

  test("betweenness: a clique has no bridges (all dependencies zero)") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("d1", "d2")
    // every pair is adjacent: no shortest path passes through anyone —
    // the backward pass finds no dist-2 children, output is empty
    assert(Dedup.betweennessFromEdges(spark, edges).collect().isEmpty)
  }

  test("jaccardPairs equals a Scala Set Jaccard; zero-overlap pairs stay at 0.0") {
    import org.apache.spark.sql.functions.{array_distinct, col, split}
    // duplicate-laden, unsorted texts; toks is the bases' distinct split
    val texts = Map(1L -> "d b a b c d", 2L -> "c a e a", 3L -> "z y z",
      4L -> "b d a c", 5L -> "q a")
    val sets = texts.toSeq.map { case (id, t) => (id, t, s"tag$id") }
      .toDF("doc_id", "text", "tag")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"),
        col("tag"))
    val pairs = Seq((1L, 2L, "p"), (1L, 4L, "p"), (2L, 3L, "p"), (3L, 5L, "p"),
      (2L, 5L, "p")).toDF("d1", "d2", "src")
    val out = Dedup.jaccardPairs(pairs, sets, "tag").collect()
    assert(out.length == 5, "inner joins on present docs keep every pair")
    out.foreach { r =>
      val (d1, d2) = (r.getAs[Long]("d1"), r.getAs[Long]("d2"))
      val (a, b) = (texts(d1).split(" ").toSet, texts(d2).split(" ").toSet)
      assert(r.getAs[Double]("jac") == (a & b).size.toDouble / (a | b).size.toDouble,
        s"($d1, $d2): $r")
      assert(r.getAs[Long]("inter") == (a & b).size)
      assert(r.getAs[collection.Seq[String]]("t1") == a.toSeq.sorted)
      assert(r.getAs[collection.Seq[String]]("t2") == b.toSeq.sorted)
      assert(r.getAs[String]("tag1") == s"tag$d1" && r.getAs[String]("tag2") == s"tag$d2")
      assert(r.getAs[String]("src") == "p")
    }
    val zero = out.filter(r => r.getAs[Long]("d1") == 2L && r.getAs[Long]("d2") == 3L)
    assert(zero.length == 1 && zero.head.getAs[Double]("jac") == 0.0)
  }

  test("jaccardPairs alone owns the sorted-merge intersect, the verify sort and Jaccard") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned too few sources: ${files.size}")
    // (file, line, enclosing member) of every line matching `hit`
    def hits(hit: String => Boolean): Seq[(String, Int, String)] = for {
      f <- files
      lines = Files.readString(f).split("\n").toSeq
      (l, i) <- lines.zipWithIndex if hit(l)
    } yield {
      val member = lines.take(i).reverse.map("""^  (?:private\S* )?def (\w+)""".r.findFirstMatchIn(_))
        .collectFirst { case Some(m) => m.group(1) }.getOrElse("")
      (root.relativize(f).toString, i + 1, member)
    }
    val calls = hits(_.contains("SortedIntersectCount.sortedIntersect("))
    assert(calls.map(c => (c._1, c._3)) == Seq(("ops/Dedup.scala", "jaccardPairs")),
      s"sortedIntersect called outside jaccardPairs: $calls")
    val dedup = Files.readString(root.resolve("ops/Dedup.scala"))
    assert(!dedup.contains("array_sort(array_distinct("),
      "a Dedup base sorts its token set; jaccardPairs owns the sort")
    val denom = """\+[^+]*-\s*(?:col\("\w+"\)|\w+)\)\.cast\("double"\)""".r
    val spelled = hits(l => denom.findFirstIn(l).isDefined)
    assert(spelled.map(c => (c._1, c._3)) == Seq(("ops/Util.scala", "jaccard")),
      s"a Jaccard denominator outside Util.jaccard: $spelled")
  }
}
