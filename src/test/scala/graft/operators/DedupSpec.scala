package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("pageRank: mass conserved, symmetric graphs uniform, hubs outrank leaves") {
    // 4-cycle: every node degree 2, rank stays uniform at 1/4
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a_id", "b_id")
    val cyc = Dedup.pageRank(cycle).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cyc.keySet == Set(1L, 2L, 3L, 4L))
    assert(cyc.values.toSet.size == 1, s"cycle ranks not uniform: $cyc")
    assert(math.abs(cyc.values.sum - 1.0) < 1e-6, s"mass not conserved: ${cyc.values.sum}")
    // star: the center is every leaf's only neighbor and must outrank them
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("a_id", "b_id")
    val st = Dedup.pageRank(star).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(st(1L) > st(2L), s"star center must outrank leaves: $st")
    assert(st(2L) == st(3L) && st(3L) == st(4L) && st(4L) == st(5L))
    assert(math.abs(st.values.sum - 1.0) < 1e-6)
    // empty graph: empty output, no exceptions
    val none = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.pageRank(none).count() == 0)
  }

  test("splitByComponent: whole components share a split; singletons match the plain split") {
    val d = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // components {1,2,3} and {4,5}; 6-10 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val out = Dedup.splitByComponent(d, pairs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == (1L to 10L).toSet)
    assert(Set(out(1L), out(2L), out(3L)).size == 1, "component {1,2,3} split apart")
    assert(out(4L) == out(5L), "component {4,5} split apart")
    val plain = TextAnalysis.deterministicSplit(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (6L to 10L).foreach(i => assert(out(i) == plain(i), s"singleton $i moved"))
    // the component members all carry the CANONICAL member's plain bucket
    assert(out(1L) == plain(1L) && out(4L) == plain(4L))
    // no pairs at all: identical to the plain split
    val none = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val same = Dedup.splitByComponent(d, none).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(same == plain)
  }

  test("splitByComponent surfaces a non-converged labeling per spark.graft.cc.onNonConverged") {
    val d = (1L to 12L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // a 12-node chain: min-label propagation with pointer jumping covers
    // distance 3^k after k rounds, so maxIters = 1 cannot converge
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // default (warn): accepts the finer labeling, still total over docs
    val out = Dedup.splitByComponent(d, chain, maxIters = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == (1L to 12L).toSet)
    // error mode: the leakage-audited setting throws instead
    spark.conf.set("spark.graft.cc.onNonConverged", "error")
    try {
      val ex = intercept[IllegalStateException] {
        Dedup.splitByComponent(d, chain, maxIters = 1).collect()
      }
      assert(ex.getMessage.contains("did NOT converge"))
      // a converged run under the same setting is untouched
      assert(Dedup.splitByComponent(d, chain, maxIters = 10).count() == 12)
    } finally spark.conf.unset("spark.graft.cc.onNonConverged")
  }

  test("spark.graft.cc.onNonConverged rejects an unknown value even when the labels converge") {
    val d = (1L to 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    spark.conf.set("spark.graft.cc.onNonConverged", "eror")
    try {
      val ex = intercept[IllegalArgumentException] {
        Dedup.splitByComponent(d, pairs).collect()
      }
      assert(ex.getMessage.contains("spark.graft.cc.onNonConverged"), ex.getMessage)
      assert(ex.getMessage.contains("warn, error"), ex.getMessage)
    } finally spark.conf.unset("spark.graft.cc.onNonConverged")
  }

  test("noveltyScores: the minimum-id holder of a span scores it novel") {
    val d = docs(1L -> "a b c", 2L -> "a b x", 3L -> "b c")
    // 2-token spans: doc1 {a b, b c} introduces both; doc2 {a b, b x}
    // introduces only "b x"; doc3's single span "b c" was doc1's
    val out = Dedup.noveltyScores(d, n = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(1L -> (2L, 2L, 1.0), 2L -> (1L, 2L, 0.5), 3L -> (0L, 1L, 0.0)))
  }

  test("stripBoilerplate: covered positions drop, survivors reassemble in order") {
    // "x y" is held by docs 1-3 (df 3 > maxDf 2) → boilerplate; doc 4's
    // text shares tokens but never the span, so it survives untouched
    val d = docs(1L -> "a x y b", 2L -> "x y c", 3L -> "d x y", 4L -> "x a y")
    val out = Dedup.stripBoilerplate(d, n = 2, maxDf = 2).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out == Map(
      1L -> (2L, 2L, "a b"), 2L -> (1L, 2L, "c"),
      3L -> (1L, 2L, "d"), 4L -> (3L, 0L, "x a y")))
    // overlapping occurrences of a boilerplate span union their coverage:
    // "x x" in docs 5-7; doc 5 = "x x x" is covered end-to-end yet stays
    // in the output as an emptied row (the curation-funnel signal)
    val e = docs(5L -> "x x x", 6L -> "x x", 7L -> "a x x", 8L -> "b")
    val out2 = Dedup.stripBoilerplate(e, n = 2, maxDf = 2).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out2 == Map(
      5L -> (0L, 3L, ""), 6L -> (0L, 2L, ""),
      7L -> (1L, 2L, "a"), 8L -> (1L, 0L, "b")))
  }

  test("stripBoilerplateAgainst: history counts + batch virality combine; index is additive") {
    val history = docs(1L -> "x y a", 2L -> "b x y")        // "x y" held by 2 docs
    val batch = docs(10L -> "c x y d", 11L -> "p q", 12L -> "p q e", 13L -> "f p q")
    val idx = Dedup.boilerplateIndex(history, n = 2)
    val out = Dedup.stripBoilerplateAgainst(batch, idx, n = 2, maxDf = 2).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // "x y": 2 history + 1 batch = 3 > 2 → stripped from doc 10 even
    // though the batch alone never clears the threshold; "p q": 0 history
    // + 3 batch = 3 > 2 → same-day virality caught with no history at all
    assert(out == Map(
      10L -> (2L, 2L, "c d"), 11L -> (0L, 2L, ""),
      12L -> (1L, 2L, "e"), 13L -> (1L, 2L, "f")))
    // only batch docs appear
    assert(!out.contains(1L) && !out.contains(2L))
    // additivity: index(history ∪ batch) == (index(history) ∪ index(batch)) summed
    val whole = Dedup.boilerplateIndex(history.unionByName(batch), n = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val merged = idx.unionByName(Dedup.boilerplateIndex(batch, n = 2))
      .groupBy("h").agg(sum("df").as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(whole == merged)
  }

  test("noveltyAgainst: batch spans score novel iff absent from the span index") {
    val prior = docs(10L -> "a b c")            // index spans: "a b", "b c"
    val batch = docs(1L -> "a b x", 2L -> "p q")
    val out = Dedup.noveltyAgainst(batch, Dedup.spanIndex(prior, n = 2), n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: "a b" seen, "b x" novel; doc 2: nothing seen before
    assert(out == Map(1L -> (1L, 2L, 0.5), 2L -> (1L, 1L, 1.0)))
  }

  test("crossStratumPairs canonicalizes pair order and counts per stratum pair") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val strata = Seq((1L, "w"), (2L, "c"), (3L, "c"), (4L, "w"), (5L, "w"))
      .toDF("doc_id", "src")
    // (1,2)=(w,c) and (1,3)=(w,c) both canonicalize to (c,w); (2,3) and
    // (4,5) are the diagonal (within-source) rows
    val out = Dedup.crossStratumPairs(pairs, strata).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out == Map(("c", "w") -> 2L, ("c", "c") -> 1L, ("w", "w") -> 1L))
  }

  test("exact dedup keeps the lowest id per identical text") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val kept = Dedup.exact(d, col("doc_id"), col("text"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("shingleSet: docs shorter than n produce no shingles") {
    val d = docs(1L -> "a b", 2L -> "a b c d")
    val sh = Dedup.shingleSet(d, 3).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sh.forall(_._1 == 2L))
    assert(sh.map(_._2).sorted.toSeq == Seq("a b c", "b c d"))
  }

  test("LSH: identical docs always collide; disjoint docs never do") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "completely different words that share nothing at all here")
    val pairs = Dedup.lshCandidatePairs(d, n = 3, k = 12, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("estimatedJaccardPairs: identical docs estimate 1.0; pair set = LSH candidates") {
    val base = "one two three four five six seven eight nine ten"
    val d = docs(
      1L -> base, 2L -> base,                       // identical: all k components agree
      3L -> (base + " eleven twelve thirteen"),     // overlapping near-dup
      4L -> "totally different words entirely unrelated content here now")
    val est = Dedup.estimatedJaccardPairs(d, n = 3, k = 12, bands = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(est((1L, 2L)) == 1.0)
    assert(est.values.forall(v => v >= 0.0 && v <= 1.0))
    // the estimate scores EXACTLY the banding candidates — no extra pairs,
    // none lost (the scoring join must not change the candidate set)
    val cand = Dedup.lshCandidatePairs(d, n = 3, k = 12, bands = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(est.keySet == cand)
  }

  test("topKNeighborDocs: symmetric ranking, k-cap, window-free plan") {
    val base = "one two three four five six seven eight nine ten"
    val d = docs(
      1L -> base, 2L -> base,                    // identical: j_est 1.0 both ways
      3L -> (base + " eleven twelve thirteen"),  // near-dup of the pair
      4L -> "totally different words entirely unrelated content here now")
    val q = Dedup.topKNeighborDocs(d, n = 3, k = 12, bands = 4, topK = 1)
    val out = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // topK=1: exactly one row per doc with any candidate; doc 4 is absent
    assert(out.map(_._1).toSeq.sorted == out.map(_._1).distinct.toSeq.sorted)
    assert(!out.map(_._1).contains(4L))
    val m = out.map(t => t._1 -> ((t._2, t._3))).toMap
    // identical twins pick each other at 1.0; the tie between bit-equal
    // 1.0 estimates breaks to the LOWER n_id (doc 2 prefers doc 1)
    assert(m(1L) == ((2L, 1.0)) && m(2L) == ((1L, 1.0)))
    // the ranking must equal a brute-force window recompute at any k
    val sym = Dedup.estimatedJaccardPairs(d, n = 3, k = 12, bands = 4).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1), r.getDouble(2)),
        (r.getLong(1), r.getLong(0), r.getDouble(2))))
    val brute = sym.groupBy(_._1).values.flatMap(rs =>
      rs.sortBy(t => (-t._3, t._2)).take(3).toSeq).toSet
    val got3 = Dedup.topKNeighborDocs(d, n = 3, k = 12, bands = 4, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got3 == brute)
    assert(!q.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("mergeComponentLabels: incremental merge equals full recompute; new pairs lower old labels") {
    import spark.implicits._
    val w1 = Seq((2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val w2 = Seq((1L, 3L), (6L, 9L)).toDF("a_id", "b_id") // 1 undercuts {2,3}'s min; 9 extends {5,6}
    val none = Seq.empty[(Long, Long)].toDF("id", "lbl")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val l1 = Dedup.mergeComponentLabels(none, w1)
    assert(m(l1) == Map(2L -> 2L, 3L -> 2L, 5L -> 5L, 6L -> 5L))
    val l2 = Dedup.mergeComponentLabels(l1, w2)
    val full = Dedup.mergeComponentLabels(none, w1.unionByName(w2))
    assert(m(l2) == m(full), "incremental labels diverged from full recompute")
    assert(m(l2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 5L))
    // an empty batch is a no-op
    assert(m(Dedup.mergeComponentLabels(l2,
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"))) == m(l2))
  }

  test("componentSizeHistogram: closed-form sizes; empty graph yields empty histogram") {
    import spark.implicits._
    // components: {1,2,3} (chain), {5,6} — sizes 3 and 2
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val got = Dedup.componentSizeHistogram(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 1L, 2L -> 1L))
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.componentSizeHistogram(empty).collect().isEmpty)
  }

  test("prefixDuplicates: finds truncations at token boundaries only; short docs out of scope") {
    val stem = (1 to 6).map(i => s"t$i").mkString(" ")          // 6-token shared prefix
    val d = docs(
      1L -> s"$stem alpha beta gamma",
      2L -> s"$stem alpha",                                     // strict prefix of 1
      3L -> s"$stem alphabet soup",                             // shares tokens but 'alpha' vs 'alphabet' ≠ boundary prefix
      4L -> s"$stem alpha beta gamma",                          // EQUAL to 1: not strict
      5L -> "tiny doc")                                         // < n tokens: out of scope
    val out = Dedup.prefixDuplicates(d, n = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 1L), (2L, 4L)))
  }

  test("exactNormalized collapses case/punct/whitespace variants; exact() does not") {
    val d = docs(
      1L -> "Hello,   World!",
      2L -> "hello world",
      3L -> "hello world.",
      4L -> "genuinely different")
    assert(Dedup.exact(d, col("doc_id"), col("text")).count() == 4) // byte-distinct
    val kept = Dedup.exactNormalized(d, col("doc_id"), col("text"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L)) // one canonical class {1,2,3}, lowest id kept
  }

  test("dupRateByStratum: per-stratum rates, zero-collision strata included") {
    import spark.implicits._
    val batch = Seq((10L, "a"), (20L, "a"), (30L, "b"), (40L, "c")).toDF("doc_id", "source")
    val pairs = Seq((10L, 1L), (10L, 2L), (30L, 7L)).toDF("new_id", "corpus_id")
    val out = Dedup.dupRateByStratum(batch, pairs, col("source"))
      .orderBy("stratum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // doc 10 collides twice but counts ONCE; source c has no collisions
    assert(out == Seq(("a", 2L, 1L, 0.5), ("b", 1L, 1L, 1.0), ("c", 1L, 0L, 0.0)))
  }

  test("keepBestPerCluster keeps the best-scoring doc per component, singletons survive") {
    import spark.implicits._
    // component {1,2,3} via chained pairs; 4 is a singleton
    val d = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (4L, 0.1)).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val kept = Dedup.keepBestPerCluster(d, pairs, Seq(col("q").desc, col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // NOT doc 1 (the minimum id dropNearDuplicatesCC would keep): quality wins
    assert(kept == Seq(2L, 4L))
    // no pairs at all: everyone is their own component
    val none = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.keepBestPerCluster(d, none, Seq(col("q").desc, col("doc_id")))
      .count() == 4)
    // deterministic tie-break: equal scores fall back to the id
    val tied = Seq((1L, 0.5), (2L, 0.5)).toDF("doc_id", "q")
    assert(Dedup.keepBestPerCluster(tied, Seq((1L, 2L)).toDF("a_id", "b_id"),
        Seq(col("q").desc, col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("simhash: identical docs get identical fingerprints; bits bounded") {
    val d = docs(1L -> "alpha beta gamma", 2L -> "alpha beta gamma", 3L -> "unrelated stuff")
    val fp = Dedup.simhash(d, bits = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("ngramJaccard: identical docs score 1.0; near-dups score in (0,1)") {
    val d = docs(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g h",
      3L -> "a b c d e f g x")
    val j = Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0 && j((1L, 3L)) < 1.0)
  }

  test("ngramJaccard maxDf cap bounds candidates on a hot-shingle corpus") {
    // 20 docs share ONE hot shingle but are otherwise disjoint: with
    // maxDf < 20 the hot posting list is excluded from blocking entirely,
    // so no candidate pairs (and no quadratic join) are generated.
    val hot = (1L to 20L).map(i => i -> s"hot hot hot u$i v$i w$i")
    val d = docs(hot: _*)
    val capped = Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.0, maxDf = 5)
    assert(capped.count() == 0)
    // sanity: without the cap the same corpus yields all C(20,2) pairs
    val uncapped = Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.0, maxDf = 1000)
    assert(uncapped.count() == 190)
  }

  test("containmentPairs maxDf cap bounds candidates on a hot-shingle corpus (x67 skew bound)") {
    // 20 docs share ONE hot shingle but are otherwise disjoint — the
    // boilerplate-header worst case. With maxDf < 20 the hot posting list
    // is excluded from blocking entirely: zero candidate pairs, no
    // quadratic join (the §8.1 closed form Σ_s C(min(df_s, maxDf), 2)
    // evaluates to 0 because every shared shingle is hot).
    val hot = (1L to 20L).map(i => i -> s"hot hot hot u$i v$i w$i")
    val d = docs(hot: _*)
    val capped = Dedup.containmentPairs(d, n = 3, threshold = 0.0, maxDf = 5)
    assert(capped.count() == 0)
    // uncapped sanity: each pair shares exactly the one hot shingle, both
    // directions emitted — 2 · C(20,2) rows, the closed-form ceiling
    val uncapped = Dedup.containmentPairs(d, n = 3, threshold = 0.0, maxDf = 1000)
    assert(uncapped.count() == 2L * 190)
  }

  test("topKNeighborDocs: hot boilerplate cluster stays ≤ topK rows per doc (x80 skew bound)") {
    // 30 IDENTICAL docs — every pair is an LSH candidate (the all-pairs
    // worst case banding cannot prune). The two-phase top-k must still
    // cut each doc's 29 candidates to topK, and the candidate set itself
    // stays at the closed-form C(30,2) with no duplicate inflation.
    val hotDocs = (1L to 30L).map(i => i -> "alpha beta gamma delta epsilon zeta eta theta")
    val d = docs(hotDocs: _*)
    assert(Dedup.estimatedJaccardPairs(d).count() == 30L * 29 / 2)
    val out = Dedup.topKNeighborDocs(d, topK = 5)
    val perQ = out.groupBy("q_id").count().collect().map(_.getLong(1))
    assert(perQ.length == 30 && perQ.forall(_ == 5))
    // identical docs estimate j=1.0 and ties break on n_id: doc i's
    // neighbors are the 5 smallest other ids — fully deterministic
    val n1 = out.filter(col("q_id") === 7L).collect().map(_.getLong(1)).sorted
    assert(n1.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("embeddingNearDupPairs: near-identical vectors found, distant ones not") {
    import spark.implicits._
    // two tight pairs near orthogonal axes + their centroids (ids 0, 10)
    val emb = Seq(
      0L  -> Seq(1.0f, 0.0f, 0.0f),
      1L  -> Seq(0.999f, 0.001f, 0.0f),
      2L  -> Seq(0.998f, 0.002f, 0.0f),
      10L -> Seq(0.0f, 1.0f, 0.0f),
      11L -> Seq(0.0f, 0.999f, 0.001f),
      12L -> Seq(0.0f, 0.0f, 1.0f)
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb,
        centroidPred = col("vec_id") % 10 === 0, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L)) && pairs.contains((0L, 2L)))
    assert(pairs.contains((10L, 11L)))
    assert(!pairs.exists(p => p._1 < 10 && p._2 >= 10), "cross-axis pair leaked")
    assert(!pairs.contains((11L, 12L)), "orthogonal vectors scored as dups")
  }

  test("semDedup: greedy lowest-id keeps one per dup group; every vector surfaces") {
    import spark.implicits._
    // same fixture as embeddingNearDupPairs: dup groups {0,1,2} and
    // {10,11}; 12 is orthogonal to everything
    val emb = Seq(
      0L  -> Seq(1.0f, 0.0f, 0.0f),
      1L  -> Seq(0.999f, 0.001f, 0.0f),
      2L  -> Seq(0.998f, 0.002f, 0.0f),
      10L -> Seq(0.0f, 1.0f, 0.0f),
      11L -> Seq(0.0f, 0.999f, 0.001f),
      12L -> Seq(0.0f, 0.0f, 1.0f)
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(emb,
        centroidPred = col("vec_id") % 10 === 0, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 10L, 11L, 12L), "a vector went missing")
    assert(out.filter(_._2).keySet == Set(0L, 10L, 12L),
      "greedy rule must keep exactly the lowest id of each group + singletons")
  }

  test("LSH maxBucket drops hot buckets wholesale but keeps under-cap pairs") {
    // 20 identical "hot" docs (every band bucket holds all 20) plus one
    // under-cap identical pair with disjoint vocabulary
    val hot = (1L to 20L).map(i =>
      i -> "the quick brown fox jumps over the lazy dog today")
    val cold = Seq(
      100L -> "entirely separate words appear here nowhere else at all",
      101L -> "entirely separate words appear here nowhere else at all")
    val d = docs(hot ++ cold: _*)
    val capped = Dedup.lshCandidatePairs(d, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(capped == Seq((100L, 101L))) // hot buckets gone, cold pair intact
    assert(Dedup.lshCandidatePairs(d).count() == 190 + 1) // uncapped: C(20,2) + 1
    // the cap boundary: a bucket of exactly maxBucket docs keeps all its
    // pairs, a bucket of maxBucket + 1 is dropped
    val atCap = (1L to 5L).map(_ -> "five copies of this one sentence right here")
    val overCap = (11L to 16L).map(_ -> "six copies of some other unrelated line there")
    val edge = Dedup.lshCandidatePairs(docs(atCap ++ overCap: _*), maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edge == (for (i <- 1L to 5L; j <- i + 1 to 5L) yield (i, j)).toSet)
  }

  test("pigeonholePairs: maxBucket keeps a bucket of exactly the cap, drops cap + 1") {
    import spark.implicits._
    // 16 bits, maxHamming 1: two 8-bit segments. 0x0101 puts ids 1-3 in
    // buckets (0,1) and (1,1); 0x0202 puts ids 11-14 in (0,2) and (1,2)
    val fp = ((1L to 3L).map(_ -> 0x0101L) ++ (11L to 14L).map(_ -> 0x0202L))
      .toDF("id", "fingerprint")
    def pairs(maxBucket: Int) = Dedup.pigeonholePairs(fp, 16, 1, maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs(3) == Set((1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L)))
    assert(pairs(Int.MaxValue).size == 3 + 6) // uncapped: C(3,2) + C(4,2)
  }

  test("simhashNearDupPairs: identical docs pair at hamming 0; disjoint docs don't pair") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "alpha beta gamma delta epsilon",
      3L -> "alpha beta gamma delta zeta",
      4L -> "utterly disjoint vocabulary everywhere totally")
    val pairs = Dedup.simhashNearDupPairs(d, bits = 16, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((1L, 2L)) == 0L)               // identical text, identical fingerprint
    assert(pairs.keys.forall(p => p._2 != 4L))  // unrelated doc never pairs
    // every emitted pair respects the verify bound
    assert(pairs.values.forall(_ <= 3L))
    // pigeonhole exhaustiveness vs brute force: every fingerprint pair
    // within hamming<=3 is found by the 4-segment blocking
    val fps = Dedup.simhash(d, 16).collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i, fi) <- fps; (j, fj) <- fps if i < j
      if java.lang.Long.bitCount(fi ^ fj) <= 3
    } yield (i, j)).toSet
    assert(pairs.keySet == brute)
  }

  test("simhash 64-bit: sha2-family fingerprints use all 64 bits; pairs exhaustive") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "alpha beta gamma delta epsilon",
      3L -> "alpha beta gamma delta zeta",
      4L -> "utterly disjoint vocabulary everywhere totally",
      5L -> "more unrelated words in another direction entirely now")
    val fp64 = Dedup.simhash(d, 64).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp64(1L) == fp64(2L)) // identical text, identical fingerprint
    // the upper half is real signal, not zero-padding (the 64-bit family
    // is sha2-256 — one hash for all 64 digit votes)
    assert(fp64.values.exists(v => (v >> 32) != 0L && (v >> 32) != -1L))
    // pigeonhole exhaustiveness at 64 bits (16-bit keys) vs brute force
    val pairs = Dedup.simhashNearDupPairs(d, bits = 64, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val brute = (for {
      (i, fi) <- fp64.toSeq; (j, fj) <- fp64.toSeq if i < j
      if java.lang.Long.bitCount(fi ^ fj) <= 3
    } yield (i, j) -> java.lang.Long.bitCount(fi ^ fj).toLong).toMap
    assert(pairs == brute)
    assert(pairs((1L, 2L)) == 0L) // identical docs still collide at 64 bits
  }

  test("embeddingNearDupPairs caps a degenerate hot cluster (bounded candidate count)") {
    import spark.implicits._
    // worst case: EVERY vector lands in one cluster (all near one axis) —
    // the failure mode the cap exists for
    val emb = (0L until 64L).map(i => i -> Seq(1.0f, i.toFloat * 1e-5f))
      .toDF("vec_id", "embedding")
    val capped = Dedup.embeddingNearDupPairs(emb, centroidPred = col("vec_id") === 0,
      threshold = -1.0, maxClusterSize = 8)
    // 64 vectors split over ceil(64/8)=8 md5-scrambled blocks: expected
    // pair count = sum of C(block size, 2) under the documented block rule
    val blockSizes = emb.groupBy(pmod(
        conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10).cast("long"),
        lit(8L)).as("b"))
      .count().collect().map(_.getLong(1))
    val expected = blockSizes.map(n => n * (n - 1) / 2).sum
    assert(capped.count() == expected)
    assert(expected < 2016, "blocking did not reduce the pair count")
    val uncapped = Dedup.embeddingNearDupPairs(emb, centroidPred = col("vec_id") === 0,
      threshold = -1.0)
    assert(uncapped.count() == 2016)
  }

  test("dropNearDuplicatesCC: one representative per component, where greedy keeps two") {
    import spark.implicits._
    val d = docs(1L -> "t one", 2L -> "t two", 3L -> "t three", 4L -> "t four", 5L -> "solo")
    // star-through-bridge: 2 touches the component only via dropped 3
    val pairs = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    val cc = Dedup.dropNearDuplicatesCC(d, pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(cc == Seq(1L, 5L), "CC must keep exactly the component minimum + untouched docs")
    val greedy = Dedup.dropNearDuplicates(d, pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(greedy == Seq(1L, 2L, 5L)) // the documented greedy/CC divergence
    // iteration cap: unconverged propagation falls back to the greedy answer
    val chain = docs((1L to 6L).map(i => i -> s"chain $i"): _*)
    val cpairs = (1L to 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val capped = Dedup.dropNearDuplicatesCC(chain, cpairs, maxIters = 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(capped == Seq(1L)) // greedy fallback: all b-side ids dropped
    val converged = Dedup.dropNearDuplicatesCC(chain, cpairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(converged == Seq(1L))
    // zero candidates (a healthy corpus) keeps every doc — regression for
    // the empty-frame null-sum crash
    val noPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val all = Dedup.dropNearDuplicatesCC(d, noPairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(all == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("dropNearDuplicatesCC: pointer jumping converges a 32-hop chain inside the default cap") {
    import spark.implicits._
    // path 1-2-...-33 with every edge oriented even->odd, so b-sides are
    // exactly the odd nodes: greedy keeps the 16 evens, CC keeps {1}.
    // Diameter 32 > maxIters 10 — neighbor-min alone moves the component
    // minimum one hop per round and would hit the cap and fall back to
    // greedy; path halving compounds distance ~2x per round, so reaching
    // the converged {1} PROVES the jump step is doing its job.
    val deep = docs((1L to 33L).map(i => i -> s"deep $i"): _*)
    val edges = (1L until 33L).map(i =>
      if (i % 2 == 0) (i, i + 1) else (i + 1, i)).toDF("a_id", "b_id")
    val greedy = Dedup.dropNearDuplicates(deep, edges)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(greedy == (2L to 32L by 2).toSeq) // the fallback answer, for contrast
    val cc = Dedup.dropNearDuplicatesCC(deep, edges)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(cc == Seq(1L), s"deep chain did not converge to the component minimum: $cc")
  }

  test("contaminationPairs flags a quoted benchmark phrase; hot shingles carry no signal") {
    val bench = docs(100L -> "what is the capital of france exactly")
    val corpus = docs(
      // quotes the benchmark phrase inside a longer doc -> 5 shared trigrams
      1L -> "intro words what is the capital of france exactly outro words",
      2L -> "entirely unrelated training text with different tokens",
      // shares ONLY sub-threshold overlap (2 trigrams from "what is the capital")
      3L -> "what is the capital gains tax rate")
    val got = Dedup.contaminationPairs(corpus, bench, n = 3, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 100L, 5L)))
    // a corpus-hot shingle is excluded from blocking: 20 docs all share the
    // benchmark phrase, but with maxDf below 20 nothing can match through it
    val hot = docs((1L to 20L).map(i => i -> s"what is the capital of france exactly v$i"): _*)
    assert(Dedup.contaminationPairs(hot, bench, n = 3, minShared = 1, maxDf = 5).count() == 0)
  }

  test("lshCandidatePairsAgainst: new batch collides with its corpus twin, cross pairs only") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "completely different words that share nothing at all here")
    val batch = docs(
      10L -> "the quick brown fox jumps over the lazy dog today", // dup of corpus 1
      11L -> "the quick brown fox jumps over the lazy dog today", // dup WITHIN batch
      12L -> "fresh unseen content with its very own novel tokens")
    val sigs = Dedup.minhashSignatures(corpus, n = 3, k = 12)
    val got = Dedup.lshCandidatePairsAgainst(batch, sigs, n = 3, k = 12, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // both batch dups hit corpus doc 1; the batch-internal pair (10,11)
    // is NOT emitted (within-batch dedup is a separate, explicit call)
    assert(got == Seq((10L, 1L), (11L, 1L)))
    // consistency with the one-shot detector: probing equals running the
    // full self-join on corpus ∪ batch and keeping cross pairs
    val full = Dedup.lshCandidatePairs(corpus.unionByName(batch), n = 3, k = 12, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .collect { case (a, b) if a < 10 && b >= 10 => (b, a) case (a, b) if b < 10 && a >= 10 => (a, b) }
      .sorted.toSeq
    assert(full == got)
  }

  test("duplicatedSpans: shared n-grams count as duplicated, unique docs score zero") {
    val d = docs(
      1L -> "alpha beta gamma delta unique1 tail1",
      2L -> "alpha beta gamma delta unique2 tail2",
      3L -> "totally fresh words nothing shared here")
    val got = Dedup.duplicatedSpans(d, n = 3, minDf = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // docs 1/2 share exactly the spans "alpha beta gamma"/"beta gamma delta"
    // out of 4 distinct trigrams each
    assert(got(1L) == ((2L, 4L, 0.5)))
    assert(got(2L) == ((2L, 4L, 0.5)))
    assert(got(3L) == ((0L, 4L, 0.0)))
  }

  test("contaminationPairsBloom is output-identical to contaminationPairs; plan probes the sketch") {
    val bench = docs(
      100L -> "what is the capital of france exactly",
      101L -> "name the largest planet in our solar system")
    val corpus = docs(
      1L -> "intro words what is the capital of france exactly outro words",
      2L -> "entirely unrelated training text with different tokens",
      3L -> "quiz name the largest planet in our solar system answer jupiter",
      4L -> "what is the capital gains tax rate")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val exact = rows(Dedup.contaminationPairs(corpus, bench, n = 3, minShared = 3))
    val bloom = Dedup.contaminationPairsBloom(corpus, bench, n = 3, minShared = 3)
    assert(rows(bloom) == exact)
    assert(exact.map(_._2).distinct.sorted == Seq(100L, 101L))
    // the pre-filter is really in the plan (codegen'd native expression,
    // not a UDF), and it runs BEFORE the bench join
    assert(bloom.queryExecution.executedPlan.toString.contains("might_contain"))
    // a deliberately undersized sketch (fpp ~1 on this corpus) may pass
    // every shingle through — the exact join must still make the OUTPUT
    // identical: the sketch can only cost time, never correctness
    val tiny = Dedup.contaminationPairsBloom(corpus, bench, n = 3, minShared = 3,
      expectedBenchShingles = 2L, fpp = 0.5)
    assert(rows(tiny) == exact)
  }

  test("dropNearDuplicates keeps the lowest-id representative per group") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "the quick brown fox jumps over the lazy dog today",
      4L -> "completely different words that share nothing at all here")
    val pairs = Dedup.lshCandidatePairs(d, n = 3, k = 12, bands = 4)
    val kept = Dedup.dropNearDuplicates(d, pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L))
  }

  test("kmvEstimates: small strata report exact counts; estimates are partition-independent") {
    import spark.implicits._
    // stratum "tiny": 1 doc, 4 tokens -> 2 trigrams < k -> exact count.
    // stratum "big": 300 distinct trigrams-ish docs -> the estimator path
    val tiny = Seq((1L, "a b c d", "tiny")).toDF("doc_id", "text", "src")
    val big = (1 to 100).map(i =>
      (100L + i, s"w${i}a w${i}b w${i}c w${i}d w${i}e", "big"))
      .toDF("doc_id", "text", "src")
    val d = tiny.unionByName(big)
    val out = Dedup.kmvEstimates(d, col("src"), n = 3, k = 64)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("tiny") == ((2L, 2.0)))
    // big has 300 distinct trigrams; KMV at k=64 has ~12.5% stderr —
    // accept a generous 4-sigma band
    val (nSketch, est) = out("big")
    assert(nSketch == 64L)
    assert(est > 150 && est < 500, s"KMV estimate $est implausible for 300 distinct")
    // the sketch is a pure function of the data, not the partitioning:
    // min-k of a union == min-k of per-partition min-ks
    val out7 = Dedup.kmvEstimates(d.repartition(7), col("src"), n = 3, k = 64)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out7 == out)
  }

  test("kmvMerge: sketch of the union == merge of per-half sketches (daily-merge contract)") {
    import spark.implicits._
    val all = (1 to 80).map(i =>
      (i.toLong, s"m${i}a m${i}b m${i}c m${i}d", if (i % 2 == 0) "x" else "y"))
      .toDF("doc_id", "text", "src")
    val h1 = all.filter(col("doc_id") <= 40)
    val h2 = all.filter(col("doc_id") > 40)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val whole = rows(Dedup.kmvSketch(all, col("src"), n = 3, k = 16))
    val merged = rows(Dedup.kmvMerge(
      Dedup.kmvSketch(h1, col("src"), n = 3, k = 16)
        .unionByName(Dedup.kmvSketch(h2, col("src"), n = 3, k = 16)), k = 16))
    // min-k is associative + idempotent: EXACT equality, not approximate
    assert(merged == whole)
  }

  test("kmvOverlap: identical strata estimate 1.0, disjoint 0.0, small strata exact") {
    import spark.implicits._
    // x/y share ALL text; z is disjoint; everything < k so the estimator
    // runs in its exact-Jaccard regime and the numbers are closed-form
    val d = Seq(
      (1L, "a b c d e", "x"), (2L, "a b c d e", "y"),
      (3L, "p q r s t", "z"),
      (4L, "a b c d e p q r", "w") // w: 6 shingles, 3 shared with x/y, 1 with z...
    ).toDF("doc_id", "text", "src")
    val out = Dedup.kmvOverlap(Dedup.kmvSketch(d, col("src"), n = 3, k = 16), k = 16)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(out(("x", "y")) == 1.0)
    assert(out(("x", "z")) == 0.0)
    // w = {abc,bcd,cde,dep,epq,pqr}; x = {abc,bcd,cde}; shared 3 of 6 -> 0.5
    assert(out(("w", "x")) == 0.5)
    // w∩z = {pqr} of w∪z = 8 distinct -> 0.125
    assert(out(("w", "z")) == 0.125)
    assert(out.size == 6)
  }

  test("containmentPairs: a quoted subset scores ~1 one way, low the other") {
    // doc 2 is doc 1's text verbatim plus a long unique tail: every doc-2
    // shingle that doc 1 has IS one of doc 1's shingles, so C(1→2)=1.0
    // while C(2→1) is the small fraction the tail dilutes it to — the
    // asymmetric signal Jaccard cannot express
    val short = "alpha beta gamma delta epsilon"
    val tail = (1 to 20).map(i => s"tail$i").mkString(" ")
    val d = docs(1L -> short, 2L -> s"$short $tail",
      3L -> "entirely disjoint filler words nothing shared here at all")
    val out = Dedup.containmentPairs(d, n = 3, threshold = 0.5, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
    // both directions survive once the threshold admits the diluted one:
    // doc1 has 3 shingles, doc2 has 23, all 3 shared -> C(2→1)=3/23
    val both = Dedup.containmentPairs(d, n = 3, threshold = 0.1, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(both == Seq((1L, 2L, 1.0), (2L, 1L, math.rint(3.0 / 23.0 * 10000) / 10000)))
  }

  test("containmentPairs: hot-shingle correction keeps the score exact") {
    // a shingle shared by ALL docs exceeds maxDf=2 and leaves the rare
    // blocking set, but the hot-set intersection must still count it in i
    val common = "one two three"
    val d = docs(
      1L -> s"$common aa bb cc",
      2L -> s"$common aa bb cc",
      3L -> s"$common zz yy xx")
    // docs 1,2: shingles identical (4 each incl. the hot one) -> C = 1.0
    val out = Dedup.containmentPairs(d, n = 3, threshold = 0.9, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(out == Seq((1L, 2L, 1.0), (2L, 1L, 1.0)))
  }
}
