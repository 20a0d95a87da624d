package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ROUND 9 — job-count ceilings for the driver-loop operators.
  *
  * SkewBenchSpec bounds the DATA volume of every candidate generator;
  * this suite bounds the other scale lever: the number of Spark JOBS a
  * driver-coordinated loop launches. mmrSelect (k argmax round-trips),
  * the CC/PageRank label loops, and BPE training all have
  * bounded-by-construction iteration — but nothing stopped a refactor
  * from quietly adding a per-row collect until this suite counted. The
  * counts are asserted as CEILINGS with slack (AQE may add a stage,
  * Persist materialization is a job), never as exact equalities: the
  * property under test is the GROWTH LAW (O(k), O(iters),
  * O(merges/batch), O(1) in row count), not a plan fingerprint.
  *
  * BPE batched mode also gets its semantics pinned here: agreement
  * with the exact loop on a separated-frequency corpus (the realistic
  * case), and the documented in-batch non-interaction rule on an
  * adjacent-pairs word (the adversarial case).
  */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  // ten 2-char words with separated counts: ten disjoint merge
  // candidates, no two sharing a symbol — the batched selector can take
  // any m of them per round without reordering vs the exact loop
  private def separatedDocs = {
    val words = Seq("ab" -> 55, "cd" -> 34, "ef" -> 21, "gh" -> 13,
      "ij" -> 8, "kl" -> 5, "mn" -> 3, "op" -> 2, "qr" -> 1, "st" -> 1)
    Seq((1L, words.flatMap { case (w, c) => Seq.fill(c)(w) }.mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("BPE batched == exact on a separated-frequency corpus (rules, counts, AND encodings)") {
    val docs = separatedDocs
    for (batch <- Seq(2, 3, 8)) {
      val exact = TextAnalysis.bpeMerges(docs, merges = 6).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val batched = TextAnalysis.bpeMerges(docs, merges = 6, batch = batch).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(batched == exact, s"batch=$batch diverged:\n$batched\nvs\n$exact")
      val encExact = TextAnalysis.bpeEncode(docs, merges = 6).collect()
        .map(r => r.getString(0) -> r.getString(3)).toMap
      val encBatched = TextAnalysis.bpeEncode(docs, merges = 6, batch = batch).collect()
        .map(r => r.getString(0) -> r.getString(3)).toMap
      assert(encBatched == encExact)
    }
  }

  test("BPE batched: in-batch rules are non-interacting — adjacent pairs are split across rounds, never fused blind") {
    // "wxyz"x10: pairs (w,x) (x,y) (y,z) all count 10. Rank order (cnt
    // desc, lhs) admits (w,x); rejects (x,y) — x is used; admits (y,z).
    val docs = Seq((1L, Seq.fill(10)("wxyz").mkString(" "))).toDF("doc_id", "text")
    val round1 = TextAnalysis.bpeMerges(docs, merges = 2, batch = 2).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(round1 == Seq(("w", "x"), ("y", "z")))
    val enc = TextAnalysis.bpeEncode(docs, merges = 2, batch = 2).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(enc("wxyz") == "wx yz")
    // and the NEXT batched round may consume this round's outputs —
    // (wx, yz) is the only remaining pair
    val round2 = TextAnalysis.bpeMerges(docs, merges = 3, batch = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(round2.last == ((3L, "wx", "yz")))
  }

  test("BPE job count scales with ceil(merges/batch), not merges: the 32k-vocab lever") {
    val docs = separatedDocs
    val exact = countJobs(TextAnalysis.bpeMerges(docs, merges = 8).collect())
    val batched = countJobs(TextAnalysis.bpeMerges(docs, merges = 8, batch = 8).collect())
    // exact: >= 2 jobs (argmax collect + Persist.cut) per merge round
    assert(exact >= 16, s"exact loop ran only $exact jobs for 8 merges?")
    // batched at m=8: ONE selection + ONE fold round; generous ceiling
    // for the word-table build, encode collect, and AQE extras
    assert(batched <= 12, s"one batched round cost $batched jobs")
    assert(batched * 2 <= exact,
      s"batching must at least halve the job count (got $batched vs $exact)")
    // parameterized growth law: <= perRound * ceil(M/m) + setup
    val two = countJobs(TextAnalysis.bpeMerges(docs, merges = 8, batch = 4).collect())
    assert(two <= 6 * 2 + 6, s"2 rounds cost $two jobs")
  }

  test("Main.run with history: a landed day costs a bounded number of jobs") {
    // 3 history days, then one day re-delivering some history ids plus
    // two corrupt files: every layer runs, the Q2 upsert included. The
    // fused event rollup, Observation-backed report counts and one
    // projection per update land this near 30 jobs; one shuffle and
    // join per events-derived update and re-reading five sinks for the
    // report cost 58. Slack for AQE stage splits.
    val root = java.nio.file.Files.createTempDirectory("graft_jobs")
    val (dayIn, history) = graft.HistoryDay.land(spark, root, historyOrders = 600,
      historyDays = 3, orders = 200, badFiles = 2, seed = 11L)
    val jobs = countJobs(graft.Main.run(spark, dayIn, s"$root/day_out", Some(history)))
    info(s"Main.run day with history: $jobs jobs")
    assert(jobs <= 35, s"Main.run cost $jobs jobs")
  }

  private def randomEmb(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0L until n).map(i => (i, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toSeq.toDF("vec_id", "embedding")
  }

  test("mmrSelect job count is O(k) and O(1) in candidate count") {
    val emb = randomEmb(60, 42)
    val k2 = countJobs(Similarity.mmrSelect(emb, col("vec_id") === 0, k = 2).collect())
    val k6 = countJobs(Similarity.mmrSelect(emb, col("vec_id") === 0, k = 6).collect())
    // linear in k: 4 extra picks cost a bounded constant each
    assert(k6 - k2 <= 4 * 5, s"4 extra picks cost ${k6 - k2} jobs")
    assert(k6 <= 8 + 5 * 6, s"k=6 cost $k6 jobs")
    // row-count independence: 4x the candidates, same job count (±2 for
    // AQE/broadcast variance) — the no-per-row-driver-loop property
    val big = countJobs(Similarity.mmrSelect(randomEmb(240, 43), col("vec_id") === 0, k = 2).collect())
    assert(math.abs(big - k2) <= 2, s"row count moved jobs: $k2 -> $big")
  }

  test("CC label loop job count is O(log diameter) with the iteration cap, not O(rows)") {
    // a 40-hop chain converges by pointer jumping in <= 10 capped rounds;
    // <= 9 jobs per round (neighbor-min join+agg, jump join, convergence
    // probe, Persist.cut — each possibly stage-split by AQE) + slack
    val chain = (1L to 40L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val jobs = countJobs(Dedup.componentSizeHistogram(chain).collect())
    assert(jobs <= 10 * 9 + 8, s"CC loop cost $jobs jobs")
    // 13x the ROWS at the SAME diameter (500 extra disjoint 2-node
    // components): round count is driven by diameter, so the job count
    // must not move beyond round-level noise — rows never buy jobs
    val wide = chain.unionByName(
      (1L to 500L).map(i => (100000L + 2 * i, 100001L + 2 * i)).toDF("a_id", "b_id"))
    val wideJobs = countJobs(Dedup.componentSizeHistogram(wide).collect())
    assert(math.abs(wideJobs - jobs) <= 9,
      s"row count moved the CC job count: $jobs -> $wideJobs")
  }

  test("PageRank job count is O(iters): 2x the iterations is bounded-extra jobs, same data") {
    val pairs = (1L to 30L).map(i => (i, i % 10 + 100L)).toDF("a_id", "b_id")
    val i3 = countJobs(Dedup.pageRank(pairs, iters = 3).collect())
    val i6 = countJobs(Dedup.pageRank(pairs, iters = 6).collect())
    // <= 7 jobs per extra iteration (contrib joins + Persist.cut per
    // round, and AQE may stage-split a join)
    assert(i6 - i3 <= 3 * 7, s"3 extra iterations cost ${i6 - i3} jobs")
    assert(i6 <= 10 + 6 * 7, s"iters=6 cost $i6 jobs")
  }
}
