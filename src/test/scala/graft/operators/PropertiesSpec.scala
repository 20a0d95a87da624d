package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** ScalaCheck properties from SURVEY §5.2 #4: structural invariants that
  * must hold for ANY input, not just fixtures. Generators are driven
  * directly (fixed seeds, 5 cases each) — scalatestplus is not on the
  * classpath and scalacheck alone suffices. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def cases[A](g: Gen[A], n: Int = 5): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default.withSize(8), Seed(i.toLong)))

  test("explode row count = sum of array lengths (E1-E4 invariant)") {
    val gen = Gen.listOf(Gen.listOf(Gen.choose(0, 100)))
    cases(gen).foreach { xs =>
      val df = (xs :+ List(1)).zipWithIndex
        .map { case (l, i) => (i.toLong, l) }.toDF("id", "arr")
      val exploded = df.select(col("id"), explode(col("arr"))).count()
      assert(exploded == (xs :+ List(1)).map(_.length).sum)
    }
  }

  test("upsert idempotence holds for arbitrary key overlap (Q2 invariant)") {
    val gen = for {
      base <- Gen.mapOf(Gen.zip(Gen.choose(0, 20), Gen.choose(0, 100)))
      upd <- Gen.mapOf(Gen.zip(Gen.choose(0, 20), Gen.choose(0, 100)))
    } yield (base, upd)
    cases(gen).foreach { case (base, upd) =>
      val b = (base.toSeq :+ (999 -> 0)).toDF("k", "v")
      val u = (upd.toSeq :+ (1000 -> 1)).toDF("k", "v")
      val once = Relational.upsert(b, u, "k").orderBy("k").collect().toSeq
      val twice = Relational.upsert(Relational.upsert(b, u, "k"), u, "k")
        .orderBy("k").collect().toSeq
      assert(once == twice)
    }
  }

  test("dedupeKeepFirst yields one row per key, keys preserved (Q1)") {
    val gen = Gen.listOf(Gen.zip(Gen.choose(0, 10), Gen.choose(0, 100)))
    cases(gen).foreach { rows =>
      val all = rows :+ ((1, 2))
      val df = all.toDF("k", "ts")
      val out = Relational.dedupeKeepFirst(df, Seq(col("k")), Seq(col("ts")))
      val keys = out.select("k").collect().map(_.getInt(0)).toSeq
      assert(keys.distinct.length == keys.length)
      assert(keys.toSet == all.map(_._1).toSet)
    }
  }

  test("exact dedup is idempotent and subset-preserving for arbitrary corpora") {
    val gen = Gen.listOf(Gen.oneOf("a b", "a b c", "x", "x y z", "q r"))
    cases(gen).foreach { texts =>
      val docs = (texts :+ "a b").zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = Dedup.exact(docs, col("doc_id"), col("text"))
      val twice = Dedup.exact(once, col("doc_id"), col("text"))
      assert(once.orderBy("doc_id").collect().toSeq ==
        twice.orderBy("doc_id").collect().toSeq)
      // kept texts are exactly the distinct input texts
      assert(once.select("text").distinct().count() == once.count())
      assert(once.count() == (texts :+ "a b").distinct.length)
    }
  }

  test("sessionize: session ids are contiguous from 1 per user, order-preserving") {
    val gen = Gen.listOf(Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 100L)))
    cases(gen).foreach { rows =>
      val all = (rows :+ ((1, 5L))).zipWithIndex
        .map { case ((u, t), i) => (s"u$u", t * 1000L, i) }
      val out = Relational.sessionize(all.toDF("user", "ts_us", "id"),
          col("user"), col("ts_us"), col("id"), gapMicros = 2000L)
        .orderBy("user", "ts_us", "id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      out.groupBy(_._1).values.foreach { sess =>
        val ids = sess.sortBy(_._2).map(_._3)
        assert(ids.head == 1L)                                  // starts at 1
        assert(ids.zip(ids.tail).forall { case (a, b) => b == a || b == a + 1 }) // contiguous
      }
    }
  }

  test("ngramJaccard candidates stay under the closed-form df bound (hot-shingle fuzz)") {
    // Adversarial corpora: every doc shares ONE hot trigram (df = corpus
    // size > maxDf) plus random rare content. The §8.1 bound: candidate
    // pairs <= sum over RARE shingles of C(df_s, 2) — the hot shingle
    // contributes ZERO because blocking excludes it.
    val maxDf = 4
    val gen = Gen.listOfN(8, Gen.choose(1, 5))
    cases(gen).zipWithIndex.foreach { case (picks, ci) =>
      val corpus = picks.zipWithIndex.map { case (p, i) =>
        // "hot hot hot" in every doc; rare tail varies per doc with some
        // collisions (docs with equal p in the same case share rare runs)
        (i.toLong, s"hot hot hot r${ci}_$p s${ci}_$p t${ci}_$p u$i")
      }.toDF("doc_id", "text")
      val dfs = Dedup.shingleSet(corpus, 3)
        .groupBy("s").count().collect().map(_.getLong(1))
      val bound = dfs.filter(_ <= maxDf).map(d => d * (d - 1) / 2).sum
      val got = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.0, maxDf = maxDf).count()
      assert(got <= bound, s"candidates $got exceed closed-form bound $bound")
      // the hot shingle alone (df = 8 > maxDf) must generate nothing:
      // pairs exist only where rare runs collide
      val rareCollisions = picks.groupBy(identity).values.map(_.size)
        .map(n => n.toLong * (n - 1) / 2).sum
      assert(got <= rareCollisions,
        s"hot shingle leaked into blocking: $got pairs vs $rareCollisions rare collisions")
    }
  }

  test("LSH maxBucket caps candidate volume at bands*n*(cap-1)/2 (mega-bucket fuzz)") {
    // Adversarial corpora: one mega-group of identical docs (every band
    // bucket holds the whole group) plus a few distinct docs. With cap m,
    // each doc can meet at most m-1 others per band.
    val (bands, cap) = (4, 3)
    val gen = Gen.zip(Gen.choose(6, 12), Gen.choose(1, 3))
    cases(gen).foreach { case (hotN, coldN) =>
      val corpus = (
        (1 to hotN).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog today")) ++
        (1 to coldN).map(i => (100L + i, s"cold words c$i d$i e$i f$i g$i never repeat anywhere"))
      ).toDF("doc_id", "text")
      val n = hotN + coldN
      val capped = Dedup.lshCandidatePairs(corpus, n = 3, k = 12, bands = bands,
        maxBucket = cap).count()
      assert(capped <= bands.toLong * n * (cap - 1) / 2,
        s"capped candidates $capped exceed bands*n*(cap-1)/2")
      // the mega-bucket (size hotN > cap) is dropped wholesale
      val uncapped = Dedup.lshCandidatePairs(corpus, n = 3, k = 12, bands = bands).count()
      assert(uncapped >= hotN.toLong * (hotN - 1) / 2)
      assert(capped < uncapped)
    }
  }

  test("dropNearDuplicatesCC keeps exactly the union-find minima (random graphs)") {
    val gen = Gen.listOfN(10, Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 12L)))
    cases(gen).foreach { rawEdges =>
      val edges = rawEdges.collect {
        case (a, b) if a < b => (a, b)
        case (a, b) if b < a => (b, a)
      }.distinct
      val docs = (1L to 12L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      val pairs = (edges :+ ((1L, 2L))).toDF("a_id", "b_id")
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map((1L to 12L).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      (edges :+ ((1L, 2L))).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1L to 12L).filter(i => find(i) == i).sorted
      val kept = Dedup.dropNearDuplicatesCC(docs, pairs)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept == expected, s"CC kept $kept, union-find says $expected")
    }
  }

  test("packSequences: bins respect the budget minus their last doc (random corpora)") {
    // greedy exclusive-prefix packing invariant: within a (shard, bin),
    // every doc except the last fits inside one budget span — so
    // bin_total - last_doc_tokens < budget, for ANY corpus
    val budget = 50L
    val gen = Gen.listOfN(30, Gen.choose(1, 40))
    cases(gen).foreach { lens =>
      val docs = lens.zipWithIndex
        .map { case (n, i) => (i.toLong, Seq.fill(n)("w").mkString(" ")) }
        .toDF("doc_id", "text")
      val packed = graft.operators.TextAnalysis.packSequences(docs, budget, shards = 4)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(0), r.getLong(3)))
      packed.groupBy(t => (t._1, t._2)).values.foreach { bin =>
        val sorted = bin.sortBy(_._3)
        val withoutLast = sorted.init.map(_._4).sum
        assert(withoutLast < budget,
          s"bin ${sorted.head._1}/${sorted.head._2} holds $withoutLast tokens before its last doc")
      }
      // bins are contiguous from 0 within each shard (no doc here exceeds
      // the budget, so the prefix never jumps past a whole bin)
      packed.groupBy(_._1).values.foreach { shard =>
        val bins = shard.map(_._2).distinct.sorted.toSeq
        assert(bins == (0L to bins.max).toSeq, s"bin gap in ${bins.mkString(",")}")
      }
    }
  }

  test("chunkDocs: full coverage, bounded multiplicity, reconstruction (random docs)") {
    val gen = Gen.listOf(Gen.choose(0, 40))
    cases(gen).foreach { lens =>
      val docsDf = (lens :+ 17).zipWithIndex
        .map { case (n, i) => (i.toLong, (1 to n).map(j => s"t$j").mkString(" ")) }
        .toDF("doc_id", "text")
      val chunk = 8; val stride = 3
      val rows = TextAnalysis.chunkDocs(docsDf, chunk, stride).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      val byDoc = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      (lens :+ 17).zipWithIndex.foreach { case (n, i) =>
        val got = byDoc.getOrElse(i.toLong, Array.empty[(Long, Long, Long, String)])
        if (n == 0) assert(got.isEmpty)
        else {
          // chunk count = number of stride starts below n
          assert(got.length == (n + stride - 1) / stride)
          // every token covered at least once; multiplicity <= ceil(chunk/stride)
          val cover = got.flatMap(_._4.split(" ")).groupBy(identity).view.mapValues(_.length)
          assert(cover.keySet == (1 to n).map(j => s"t$j").toSet)
          assert(cover.values.forall(_ <= (chunk + stride - 1) / stride))
          // reported chunk_tokens is the actual slice length
          got.foreach { case (_, _, ct, text) => assert(ct == text.split(" ").length) }
        }
      }
    }
  }

  test("upsampleStrata: copy counts are floor(w) or ceil(w); mass ~ weight (fuzz)") {
    val gen = Gen.zip(Gen.choose(1, 60), Gen.choose(0.0, 3.0))
    cases(gen).foreach { case (nDocs, w) =>
      val docsDf = (1L to nDocs.toLong).map(i => (i, "s")).toDF("doc_id", "lang")
      val out = TextAnalysis.upsampleStrata(docsDf, col("lang"), Seq("s" -> w))
        .groupBy("doc_id").agg(count(lit(1)).as("n"), max("copy_id").as("mx"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val lo = math.floor(w).toLong; val hi = math.ceil(w).toLong
      out.foreach { case (_, n, mx) =>
        assert(n >= math.max(lo, 1) && n <= math.max(hi, 1))
        assert(mx == n, "copy_id must be dense 1..n")
      }
      // docs absent from the output are exactly the zero-copy draws
      val total = out.map(_._2).sum + 0L
      assert(total >= math.floor(w * nDocs * 0.5).toLong || nDocs < 10,
        s"total copies $total implausibly low for weight $w over $nDocs docs")
      assert(total <= math.ceil(w * nDocs * 1.5).toLong + 1,
        s"total copies $total implausibly high for weight $w over $nDocs docs")
    }
  }

  test("resampleCounts: spine is dense per key, counts preserved (random event sets)") {
    val gen = Gen.listOf(Gen.zip(Gen.choose(1, 4), Gen.choose(0, 2000000)))
    cases(gen).foreach { evs =>
      val all = evs :+ ((1, 0))
      val df = all.zipWithIndex.map { case ((u, off), i) =>
        (u.toLong, new java.sql.Timestamp(1700000000000L + off * 1000L), i)
      }.toDF("user_id", "ts", "i")
      val out = Relational.resampleCounts(df, "user_id", "ts", "hour")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2)))
      val byUser = out.groupBy(_._1)
      // total counts preserved
      assert(out.map(_._3).sum == all.length)
      byUser.foreach { case (_, rows) =>
        val times = rows.map(_._2).sorted
        // dense hourly spine: consecutive buckets exactly 1h apart
        times.sliding(2).foreach { case Array(a, b) => assert(b - a == 3600 * 1000L) case _ => }
        // spine endpoints carry events (min/max buckets are never empty)
        val sorted = rows.sortBy(_._2)
        assert(sorted.head._3 > 0 && sorted.last._3 > 0)
      }
    }
  }

  test("containmentPairs == brute force for arbitrary corpora (pruning soundness)") {
    // random small-vocabulary corpora maximize shared shingles; with
    // maxDf at corpus size the blocking is COMPLETE (every pair with a
    // nonempty intersection is a candidate), so the operator must equal
    // the set-algebra brute force EXACTLY — any over-eager prune or a
    // broken hot-set correction shows up as a lost or mis-scored pair
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.chooseNum(3, 9).flatMap(n => Gen.listOfN(n, word))
    val corpus = Gen.chooseNum(4, 8).flatMap(n => Gen.listOfN(n, doc))
    cases(corpus).foreach { ds =>
      val rows = ds.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val df = rows.toDF("doc_id", "text")
      val thr = 0.3
      val got = Dedup.containmentPairs(df, n = 2, threshold = thr, maxDf = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val sets = rows.map { case (id, t) =>
        id -> t.split(" ").sliding(2).map(_.mkString(" ")).toSet
      }.toMap
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a != b
        i = (sa intersect sb).size
        c = math.rint(i.toDouble / sa.size * 10000) / 10000 if c >= thr
      } yield (a, b) -> c).toMap
      assert(got == want, s"corpus=$rows")
      // and with an aggressive df cap, every EMITTED score is still exact
      // (the cap may lose pairs whose overlap is all-hot — never mis-score)
      val capped = Dedup.containmentPairs(df, n = 2, threshold = thr, maxDf = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      capped.foreach { case (k, v) =>
        assert(want.get(k).contains(v), s"capped mis-scored $k: $v vs ${want.get(k)}")
      }
    }
  }

  /** Runs `body` once per `spark.graft.jaccard.broadcastStats` setting
    * (the doc-stats join of the set-overlap core, broadcast or shuffled). */
  private def underBothStatsJoins(body: String => Unit): Unit =
    Seq("true", "false").foreach { v =>
      spark.conf.set("spark.graft.jaccard.broadcastStats", v)
      try body(v) finally spark.conf.unset("spark.graft.jaccard.broadcastStats")
    }

  /** Small-vocabulary corpora (many shared bigrams) and their bigram sets. */
  private def overlapCorpora: Seq[(Seq[(Long, String)], Map[Long, Set[String]])] = {
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.chooseNum(3, 9).flatMap(n => Gen.listOfN(n, word))
    cases(Gen.chooseNum(4, 8).flatMap(n => Gen.listOfN(n, doc))).map { ds =>
      val rows = ds.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      rows -> rows.map { case (id, t) =>
        id -> t.split(" ").sliding(2).map(_.mkString(" ")).toSet
      }.toMap
    }
  }

  private def detRounded(x: Double, scale: Int): Double = {
    val p = math.pow(10.0, scale.toDouble)
    math.floor(x * p + 0.5) / p
  }

  test("ngramJaccardPairs == brute force for arbitrary corpora") {
    // maxDf at corpus size makes the blocking COMPLETE, so the size-ratio
    // and i_max prunes must drop only pairs below the threshold
    val thr = 0.3
    underBothStatsJoins { bcast =>
      overlapCorpora.foreach { case (rows, sets) =>
        val df = rows.toDF("doc_id", "text")
        val exact = (for {
          (a, sa) <- sets; (b, sb) <- sets if a < b
          i = (sa intersect sb).size
        } yield (a, b) -> detRounded(i.toDouble / (sa.size + sb.size - i).toDouble, 3)).toMap
        val got = Dedup.ngramJaccardPairs(df, n = 2, threshold = thr, maxDf = 1000)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        assert(got == exact.filter(_._2 >= thr), s"broadcastStats=$bcast corpus=$rows")
        // an aggressive cap may lose all-hot pairs, never mis-score one:
        // threshold 0 scores every blocked pair, hot overlap included
        Dedup.ngramJaccardPairs(df, n = 2, threshold = 0.0, maxDf = 2)
          .collect().foreach { r =>
            val k = (r.getLong(0), r.getLong(1))
            assert(exact(k) == r.getDouble(2),
              s"broadcastStats=$bcast capped mis-scored $k: ${r.getDouble(2)} vs ${exact(k)}")
          }
      }
    }
  }

  test("containmentPairs == brute force under both broadcastStats settings") {
    val thr = 0.3
    underBothStatsJoins { bcast =>
      overlapCorpora.foreach { case (rows, sets) =>
        val df = rows.toDF("doc_id", "text")
        val want = (for {
          (a, sa) <- sets; (b, sb) <- sets if a != b
          c = detRounded((sa intersect sb).size.toDouble / sa.size, 4) if c >= thr
        } yield (a, b) -> c).toMap
        Seq(1000, 2).foreach { maxDf =>
          val got = Dedup.containmentPairs(df, n = 2, threshold = thr, maxDf = maxDf)
            .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
          if (maxDf == 1000) assert(got == want, s"broadcastStats=$bcast corpus=$rows")
          else got.foreach { case (k, v) =>
            assert(want.get(k).contains(v), s"broadcastStats=$bcast capped mis-scored $k")
          }
        }
      }
    }
  }

  test("duplicatedSpans and duplicateChunks == driver-side duplicate-share counts") {
    // spans: the span SET of a doc counts, so df = holders and a span
    // repeated inside one doc is one span; chunks: every full window
    // instance counts, so a window looped inside one payload is duplicated
    def share(units: Map[Long, Seq[String]]): Map[Long, (Long, Long, Double)] = {
      val df = units.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      units.collect { case (id, us) if us.nonEmpty =>
        val dup = us.count(u => df(u) >= 2).toLong
        id -> ((dup, us.size.toLong, detRounded(dup.toDouble / us.size, 4)))
      }
    }
    def rowsOf(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    overlapCorpora.foreach { case (rows, sets) =>
      val got = rowsOf(Dedup.duplicatedSpans(rows.toDF("doc_id", "text"), n = 2, minDf = 2))
      assert(got == share(sets.map { case (id, s) => id -> s.toSeq }), s"corpus=$rows")
    }
    val (window, stride) = (3, 2)
    val payloads = Gen.listOfN(6, Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(0.toByte, 1.toByte, 0xff.toByte))))
    cases(payloads).foreach { ps =>
      val bytes = ps.zipWithIndex.map { case (p, i) => (i.toLong, p.toArray) }
      val bin = bytes.toDF("doc_id", "content").select(col("doc_id"), col("content"),
        struct(lit("application/octet-stream").as("mime"),
          length(col("content")).cast("long").as("n_bytes")).as("meta"))
      val windows = bytes.map { case (id, b) =>
        id -> (0 until b.length by stride).filter(_ + window <= b.length)
          .map(o => b.slice(o, o + window).mkString(","))
      }.toMap
      val got = rowsOf(Multimodal.duplicateChunks(bin, window, stride, minDf = 2))
      assert(got == share(windows), s"payloads=${ps.map(_.mkString(","))}")
    }
  }

  test("every operator is total on the EMPTY corpus: empty output, no exceptions") {
    // regression class: aggregates over empty frames yield null (the CC
    // convergence NPE), sketches build over zero rows, sequences/windows
    // over nothing — every operator must degrade to empty, never throw
    val d = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    val e = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val ev = Seq.empty[(Long, java.sql.Timestamp, Long)].toDF("user_id", "ts", "event_id")
    val sigs = Dedup.minhashSignatures(d, 3, 12)
    val checks: Seq[(String, () => Long)] = Seq(
      "exact"       -> (() => Dedup.exact(d, col("doc_id"), col("text")).count()),
      "lshPairs"    -> (() => Dedup.lshCandidatePairs(d).count()),
      "lshAgainst"  -> (() => Dedup.lshCandidatePairsAgainst(d, sigs).count()),
      "ccDedup"     -> (() => Dedup.dropNearDuplicatesCC(d, Dedup.lshCandidatePairs(d)).count()),
      "simhashPairs" -> (() => Dedup.simhashNearDupPairs(d, bits = 64, maxHamming = 3).count()),
      "jaccard"     -> (() => Dedup.ngramJaccardPairs(d).count()),
      "contam"      -> (() => Dedup.contaminationPairs(d, d).count()),
      "contamBloom" -> (() => Dedup.contaminationPairsBloom(d, d).count()),
      "dupSpans"    -> (() => Dedup.duplicatedSpans(d).count()),
      "embNearDup"  -> (() => Dedup.embeddingNearDupPairs(e, col("vec_id") < 4, 0.5).count()),
      "knnBrute"    -> (() => Similarity.bruteForceTopK(e, col("vec_id") % 2 === 0, 5).count()),
      "knnIvf"      -> (() => Similarity.ivfTopK(e, col("vec_id") < 4, col("vec_id") % 2 === 0, 5).count()),
      "quantize"    -> (() => Similarity.quantizeInt8(e).count()),
      "curation"    -> (() => TextAnalysis.curationScores(d).count()),
      "chunk"       -> (() => TextAnalysis.chunkDocs(d, 8, 4).count()),
      "upsample"    -> (() => TextAnalysis.upsampleStrata(d, col("lang"), Seq("en" -> 2.5)).count()),
      "mixSample"   -> (() => TextAnalysis.stratifiedSample(d, col("lang"), Map("en" -> 0.5)).count()),
      "quota"       -> (() => TextAnalysis.quotaSample(d, col("lang"), Map("en" -> 5L)).count()),
      "pack"        -> (() => TextAnalysis.packSequences(d, 512L, 4).count()),
      "bins"        -> (() => TextAnalysis.assembleBins(d, 512L, 4).count()),
      "vocab"       -> (() => TextAnalysis.vocabulary(d, 10).count()),
      "tfidf"       -> (() => TextAnalysis.tfidfTopTerms(d).count()),
      "unigramLM"   -> (() => TextAnalysis.unigramLogProb(d).count()),
      "split"       -> (() => TextAnalysis.deterministicSplit(d).count()),
      "resample"    -> (() => Relational.resampleCounts(ev, "user_id", "ts").count()),
      "movingAvg"   -> (() => Relational.movingAvg(
        Relational.resampleCounts(ev, "user_id", "ts"), "user_id", "bucket", "n_events", 7).count()),
      "asof"        -> (() => Relational.asOfJoin(ev,
        ev.select(col("user_id"), col("ts").as("vts"), col("event_id").as("vid")),
        "user_id", "ts", "vts").count()),
      "bigramLM"    -> (() => TextAnalysis.bigramLogProb(d).count()),
      "jaccardEst"  -> (() => Dedup.estimatedJaccardPairs(d).count()),
      "zscore"      -> (() => Relational.rollingZscore(
        Relational.resampleCounts(ev, "user_id", "ts"), "user_id", "bucket", "n_events", 7).count()),
      "pivot"       -> (() => Relational.pivotCounts(ev, "user_id", "event_id", Seq("1")).count()),
      "pmi"         -> (() => TextAnalysis.pmiTopPairs(d).count()),
      "dupRate"     -> (() => Dedup.dupRateByStratum(d,
        Seq.empty[(Long, Long)].toDF("new_id", "corpus_id"), col("lang")).count()),
      "keepBest"    -> (() => Dedup.keepBestPerCluster(d,
        Seq.empty[(Long, Long)].toDF("a_id", "b_id"), Seq(col("doc_id"))).count()),
      "qBuckets"    -> (() => Relational.quantileBuckets(
        d.select(col("doc_id"), length(col("text")).cast("long").as("n")), "n", 4).count()),
      "prefixDups"  -> (() => Dedup.prefixDuplicates(d).count()),
      "normDedup"   -> (() => Dedup.exactNormalized(d, col("doc_id"), col("text")).count()),
      "encode"      -> (() => TextAnalysis.encodeTokens(d, 10).count()),
      "rollingDist" -> (() => Relational.rollingDistinct(ev, "user_id", "ts").count()),
      "qBucketsBy"  -> (() => Relational.quantileBucketsBy(
        d.select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n")),
        "lang", "n", 4).count()),
      "rangeJoin"   -> (() => Relational.rangeJoinBucketed(
        ev.select(col("event_id").as("p")), "p",
        ev.select(col("event_id").as("lo"), (col("event_id") + 2).as("hi")),
        "lo", "hi", 4L).count()),
      "leakMatrix"  -> (() => Dedup.crossStratumPairs(
        Dedup.lshCandidatePairs(d), d.select(col("doc_id"), col("lang"))).count()),
      "mixReport"   -> (() => TextAnalysis.mixReport(d, col("lang"), Map("en" -> 1.0)).count()),
      "novelty"     -> (() => Dedup.noveltyScores(d).count()),
      "cohesion"    -> (() => Similarity.labelCohesion(
        e.withColumn("label", lit(1))).count()),
      "winsorMean"  -> (() => Relational.winsorizedMeanBy(
        d.select(col("lang"), length(col("text")).cast("long").as("n")), "lang", "n").count()),
      "temperature" -> (() => TextAnalysis.temperatureWeights(d, col("lang"), 0.5).count()),
      "incrNovelty" -> (() => Dedup.noveltyAgainst(d, Dedup.spanIndex(d)).count()),
      "pctRank"     -> (() => Relational.percentRankBy(
        d.select(col("lang"), length(col("text")).cast("long").as("n")), "lang", "n").count()),
      "hardNeg"     -> (() => Similarity.hardNegatives(
        e.withColumn("label", lit(1)), col("vec_id") % 2 === 0, 5).count()),
      "containment" -> (() => Dedup.containmentPairs(d).count()),
      "funnel"      -> (() => TextAnalysis.curationFunnel(
        d.withColumn("source", col("lang")),
        d.select(col("doc_id")), d.select(col("doc_id")), "en", 0.5).count()),
      "srpPairs"    -> (() => Similarity.srpNearDupPairs(e, 16, 1, dim = 8).count()),
      "ewma"        -> (() => Relational.ewma(
        Relational.resampleCounts(ev, "user_id", "ts"), "user_id", "n_events", 7, 0.5).count()),
      "retention"   -> (() => Relational.cohortRetention(ev, "user_id", "ts").count()),
      "entropy"     -> (() => TextAnalysis.tokenEntropy(d).count()),
      "diversity"   -> (() => Similarity.diversityByLabel(
        e.withColumn("label", lit(1))).count()),
      "kmv"         -> (() => Dedup.kmvEstimates(d, col("lang")).count()),
      "randomProj"  -> (() => Similarity.randomProject(e, 4, 8).count()),
      "sourceKl"    -> (() => TextAnalysis.sourceDivergence(
        d.withColumn("source", col("lang"))).count()),
      "topkNbrs"    -> (() => Dedup.topKNeighborDocs(d).count()),
      "snapDiff"    -> (() => Relational.snapshotDiff(d, d,
        Seq("doc_id"), Seq("text")).count()),
      "madOutliers" -> (() => Relational.madOutliersBy(
        d.select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n")),
        "lang", "doc_id", "n").count()),
      "compSizes"   -> (() => Dedup.componentSizeHistogram(
        Seq.empty[(Long, Long)].toDF("a_id", "b_id")).count()),
      "pageRank"    -> (() => Dedup.pageRank(
        Seq.empty[(Long, Long)].toDF("a_id", "b_id")).count()),
      "compSplit"   -> (() => Dedup.splitByComponent(d,
        Seq.empty[(Long, Long)].toDF("a_id", "b_id")).count()),
      "protoPrune"  -> (() => Similarity.prototypicalityPrune(
        e, col("vec_id") < 4, q = 0.25).count()),
      "boilStrip"   -> (() => Dedup.stripBoilerplate(d).count()),
      "boilIncr"    -> (() => Dedup.stripBoilerplateAgainst(d,
        Dedup.boilerplateIndex(d)).count()),
      "dsir"        -> (() => TextAnalysis.dsirSelect(d, col("lang") === "en", 5).count()),
      "bpeEncode"   -> (() => TextAnalysis.bpeEncode(d).count()),
      "kmeansExact" -> (() => Similarity.refineCentroidsExact(e, col("vec_id") < 4).count()),
      "qualityGate" -> (() => TextAnalysis.qualityClassifierScores(
        d.withColumn("n_chars", length(col("text")).cast("long"))).count()),
      "textRank"    -> (() => TextAnalysis.textRankKeywords(d).count()),
      "semDedup"    -> (() => Dedup.semDedup(e, col("vec_id") < 4, 0.9).count()),
      "transitions" -> (() => Relational.transitionCounts(ev, col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_id").cast("string")).count()),
      "transStitch" -> (() => Relational.stitchTransitions(
        Relational.transitionBoundaries(ev, col("user_id"),
          Seq(col("ts"), col("event_id")), col("event_id").cast("string"))).count()),
      "budgetPlan"  -> (() => TextAnalysis.tokenBudgetPlan(d, col("lang"),
        length(col("text")).cast("long"), Map("en" -> 1.0), 100L).count()),
      "intervalJoin" -> (() => Relational.intervalOverlapJoin(
        ev.select(col("user_id").as("k"), col("event_id").as("llo"),
          (col("event_id") + 2).as("lhi")), "llo", "lhi",
        ev.select(col("user_id").as("k"), col("event_id").as("rlo"),
          (col("event_id") + 2).as("rhi")), "rlo", "rhi",
        4L, Seq("k")).count()),
      "heavyKeys"   -> (() => Relational.heavyHitters(ev, col("user_id"), 5).count()),
      "cdcChunks"   -> (() => Multimodal.cdcChunks(
        Multimodal.asBinaryTable(d.select(col("doc_id"), col("text")))).count()),
      "cdcDup"      -> (() => Multimodal.cdcDuplicateStats(
        Multimodal.asBinaryTable(d.select(col("doc_id"), col("text")))).count()),
      "gopher"      -> (() => TextAnalysis.gopherRules(d).count()),
      "srcHealth"   -> (() => TextAnalysis.sourceHealth(
        d.withColumn("source", col("lang"))).count()),
      "mmr"         -> (() => Similarity.mmrSelect(e, col("vec_id") === 0, 3).count()),
      "graphStats"  -> (() => Dedup.pairGraphStats(
        Seq.empty[(Long, Long)].toDF("a_id", "b_id")).count()),
      "interArrival" -> (() => Relational.interArrival(ev, col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_id"), 10L).count()),
      "fertility"   -> (() => TextAnalysis.bpeFertility(d).count()),
      "centDrift"   -> (() => Similarity.centroidDrift(e, e,
        Similarity.centroidsOf(e, col("vec_id") < 4)).count()),
      "xsrcDups"    -> (() => TextAnalysis.crossSourceDups(
        d.withColumn("source", col("lang")), md5(col("text"))).count()),
      "contamRuns"  -> (() => Dedup.contaminationRuns(d, d).count()),
      "repeatRuns"  -> (() => Dedup.selfRepeatRuns(d).count()),
      "profTwins"   -> (() => Relational.profileTwins(ev, col("user_id"),
        col("event_id").cast("string")).count()),
      "hourProfile" -> (() => Relational.typeHourProfile(ev,
        col("event_id").cast("string"), col("ts")).count()),
      "fdAudit"     -> (() => Relational.functionalDependencyAudit(
        d, col("lang"), col("text")).count()),
      "codeSwitch"  -> (() => TextAnalysis.codeSwitch(d).count()),
      "epochPlan"   -> (() => TextAnalysis.epochPlan(d, col("lang"),
        length(col("text")).cast("long"), Map("en" -> 1.0), 100L).count()),
      "sampleCalib" -> (() => Relational.sampleCalibration(d, col("doc_id"),
        length(col("text")).cast("long")).count()),
      "blockFp"     -> (() => Multimodal.blockFingerprints(
        Multimodal.asBinaryTable(d.select(col("doc_id"), col("text")))).count()),
      "blockPairs"  -> (() => Multimodal.blockNearDupPairs(
        Multimodal.asBinaryTable(d.select(col("doc_id"), col("text")))).count()),
      "ensemble"    -> (() => TextAnalysis.qualityEnsemble(d).count()),
      "vocabCov"    -> (() => TextAnalysis.vocabCoverage(
        d.withColumn("source", col("lang")), 10).count()),
      "convLag"     -> (() => Relational.conversionLag(ev, col("user_id"),
        col("ts"), col("event_id").cast("string"), "a", "b").count()),
      "shardPlan"   -> (() => Relational.shardPlan(d, col("lang"),
        length(col("text")).cast("long"), 1024L).count()),
      "labelPurity" -> (() => Similarity.labelPurity(
        e.withColumn("label", lit(1)), col("vec_id") % 2 === 0, 3).count()))
    checks.foreach { case (name, f) =>
      val n = try f() catch {
        case ex: Throwable => fail(s"$name threw on the empty corpus: $ex")
      }
      assert(n == 0, s"$name returned $n rows on an empty corpus")
    }
  }

  test("longestConsecutiveRun == the driver-side fold for arbitrary position sets") {
    import graft.functions.TextFunctions.longestConsecutiveRun
    def ref(ps: Seq[Long]): Long = {
      val s = ps.distinct.sorted
      if (s.isEmpty) 0L
      else s.zipWithIndex.foldLeft((0L, 0L, -2L)) {
        case ((best, cur, prev), (p, _)) =>
          val c = if (p == prev + 1) cur + 1 else 1L
          (math.max(best, c), c, p)
      }._1
    }
    val gen = Gen.listOf(Gen.choose(0L, 30L))
    cases(gen, n = 20).foreach { ps =>
      // the operator contract feeds DISTINCT positions (pos is unique per
      // doc); dedup here to match
      val in = ps.distinct
      val got = Seq(Tuple1(in)).toDF("mp")
        .select(longestConsecutiveRun(col("mp")).as("r"))
        .collect()(0).getLong(0)
      assert(got === ref(in), s"positions $in")
    }
  }

  test("profileTwinsFromCounts folded over ANY split == the one-pass batch report") {
    val gen = for {
      evs <- Gen.nonEmptyListOf(for {
        u <- Gen.choose(1L, 6L)
        t <- Gen.oneOf("a", "b", "c")
      } yield (u, t))
      mask <- Gen.listOfN(evs.size, Gen.oneOf(true, false))
    } yield (evs, mask)
    cases(gen, n = 10).foreach { case (evs, mask) =>
      val all = evs.toDF("user_id", "event_type")
      def counts(rows: Seq[(Long, String)]) =
        rows.toDF("user_id", "event_type")
          .select(col("user_id").as("key"), col("event_type").as("etype"))
          .groupBy(col("key"), col("etype")).agg(count(lit(1)).as("c"))
      val batch = Relational.profileTwins(all, col("user_id"), col("event_type"))
        .collect().map(_.toSeq).toSet
      val (b1, b2) = evs.zip(mask).partition(_._2)
      val folded = counts(b1.map(_._1)).unionByName(counts(b2.map(_._1)))
        .groupBy(col("key"), col("etype")).agg(sum(col("c")).as("c"))
      val incr = Relational.profileTwinsFromCounts(folded)
        .collect().map(_.toSeq).toSet
      assert(incr === batch, s"events $evs split $mask")
    }
  }

  test("shardPlan: exact BigInt ceil and fill for arbitrary byte masses") {
    val gen = Gen.nonEmptyListOf(for {
      s <- Gen.oneOf("a", "b", "c")
      b <- Gen.choose(0L, 1L << 40)
    } yield (s, b))
    cases(gen, n = 10).foreach { rows =>
      val target = 1L << 20
      val out = Relational.shardPlan(rows.toDF("s", "b"), col("s"), col("b"), target)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      rows.groupBy(_._1).foreach { case (s, rs) =>
        val total = rs.map(_._2).sum
        val shards = math.max((total + target - 1) / target, 1L)
        assert(out(s) === ((total, shards)), s"stratum $s total $total")
      }
    }
  }

  test("scalar reports are total on the EMPTY corpus: exactly one row, no exceptions") {
    // the 1-row-aggregate family must degrade to one row of zero/null
    // stats — never throw, never vanish (a missing report row reads as
    // "monitoring is down", not "corpus is empty")
    val d = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    val e = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val ev = Seq.empty[(Long, java.sql.Timestamp, Long, String)]
      .toDF("user_id", "ts", "event_id", "event_type")
    val emptyPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val checks: Seq[(String, () => Long)] = Seq(
      "sessionProfile" -> (() => Relational.sessionProfile(ev, col("user_id"),
        unix_micros(col("ts")), col("event_id"), 1000L).count()),
      "dedupAudit"  -> (() => Dedup.dedupStrategyAudit(d, emptyPairs).count()),
      "detectorAgr" -> (() => Dedup.detectorAgreement(d).count()),
      "anisotropy"  -> (() => Similarity.anisotropy(e).count()),
      "fkOrphans"   -> (() => Relational.fkOrphanAudit(ev, col("user_id"),
        ev, col("event_id")).count()),
      "hashUnif"    -> (() => Relational.hashUniformity(d, col("doc_id")).count()),
      "packColoc"   -> (() => Dedup.packedDupColocation(d, emptyPairs, 64L, 1).count()))
    checks.foreach { case (name, f) =>
      val n = try f() catch {
        case ex: Throwable => fail(s"$name threw on the empty corpus: $ex")
      }
      assert(n == 1, s"$name returned $n rows on an empty corpus (want 1)")
    }
  }

  test("corrBy matches the driver-side decimal-moment Pearson for random groups") {
    def d6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def ref(pts: Seq[(Double, Double)]): Option[Double] = {
      val n = pts.size.toDouble
      def s(f: ((Double, Double)) => Double) = pts.map(p => d6(f(p))).sum.toDouble
      val (sx, sy) = (s(_._1), s(_._2))
      val (sxx, syy, sxy) =
        (s(p => p._1 * p._1), s(p => p._2 * p._2), s(p => p._1 * p._2))
      val (vx, vy) = (n * sxx - sx * sx, n * syy - sy * sy)
      if (vx > 0 && vy > 0)
        // detRound's floor form, not BigDecimal HALF_UP — corrBy's final
        // round is the engine-independent floor(x·10⁴+0.5)/10⁴
        Some(math.floor((n * sxy - sx * sy) / math.sqrt(vx * vy) * 10000.0 + 0.5)
          / 10000.0 + 0.0)
      else None
    }
    val gen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b")
      x <- Gen.choose(-50.0, 50.0)
      y <- Gen.choose(-50.0, 50.0)
    } yield (g, x, y))
    cases(gen, n = 10).foreach { rows =>
      val out = Relational.corrBy(rows.toDF("g", "x", "y"),
          col("g"), col("x"), col("y"))
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val expect = ref(rs.map(t => (t._2, t._3)))
        assert(out(g) === expect, s"group $g rows ${rs.size}")
      }
    }
  }

  test("percentile parity: Spark percentile == the quantile_cont closed form after ROUND(·,4)") {
    // The x61/x83/x84 shared assumption, tested instead of asserted:
    // Spark's `percentile` and DuckDB's `quantile_cont` both implement
    // linear interpolation at rank h = p·(n−1) over the sorted values —
    // v[⌊h⌋] + (h−⌊h⌋)·(v[⌊h⌋+1]−v[⌊h⌋]) in double arithmetic. The
    // closed form is computed here independently; the DuckDB side is
    // fuzzed against the SAME form by tools/fuzz_percentile.py, so the
    // two engines are pinned to one mathematical definition from both
    // ends. ROUND(·,4) is the contract's output discipline.
    val gen = for {
      vals <- Gen.nonEmptyListOf(Gen.choose(0L, 10000L))
      p <- Gen.oneOf(0.05, 0.25, 0.5, 0.75, 0.95)
    } yield (vals, p)
    cases(gen, n = 10).foreach { case (vals, p) =>
      val df = vals.map(v => ("g", v)).toDF("g", "v")
      val got = df.groupBy(col("g"))
        .agg(round(expr(s"percentile(v, $p)"), 4).as("q"))
        .collect()(0).getDouble(1)
      val s = vals.sorted.map(_.toDouble)
      val h = p * (s.length - 1)
      val lo = math.floor(h).toInt
      val exact =
        if (lo + 1 < s.length) s(lo) + (h - lo) * (s(lo + 1) - s(lo)) else s(lo)
      val want = BigDecimal(exact).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got == want, s"p=$p n=${vals.length} got=$got want=$want")
    }
  }

  test("quotaSample equals the straight window selection for arbitrary corpora and caps") {
    import graft.operators.TextAnalysis
    val gen = for {
      n     <- Gen.choose(0, 60)
      langs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
      capA  <- Gen.choose(0L, 8L)   // usually under |a| -> prefix path
      capB  <- Gen.choose(0L, 80L)  // often over |b| -> keep-all path
    } yield (langs, capA, capB)
    cases(gen).foreach { case (langs, capA, capB) =>
      val docs = (langs :+ "a").zipWithIndex
        .map { case (l, i) => (i.toLong, s"t $i", l) }.toDF("doc_id", "text", "lang")
      // safety=1.0 gives the thinnest possible prefix margin, maximizing
      // undershoot pressure so the verified-fallback branch gets exercised
      // across the generated corpora, not just the fixed fixture
      val got = TextAnalysis.quotaSample(docs, col("lang"),
          Map("a" -> capA, "b" -> capB), safety = 1.0)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val draw = graft.functions.TextFunctions.md5Mod(
        concat(col("doc_id").cast("string"), lit(TextAnalysis.mixSalt)),
        lit(TextAnalysis.mixResolution))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(draw, col("doc_id"))
      val expected = docs.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= when(col("lang") === "a", capA)
          .when(col("lang") === "b", capB).otherwise(Long.MaxValue))
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expected, s"caps=($capA,$capB) n=${langs.size}")
    }
  }

  test("approx_count_distinct within 5% of exact (SURVEY §5.2 #5)") {
    val l = graft.sources.Tables(spark, sf(), "lineitem")
    val r = l.select(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).collect().head
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("sourceDivergence: KL >= 0 for arbitrary corpora (Gibbs), token mass preserved") {
    // random multi-stratum corpora over a small vocab: KL can round to -0.0
    // at the 6th decimal but may never go meaningfully negative, and the
    // per-stratum token counts must sum back to the corpus total
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.zip(Gen.choose(0, 2), Gen.nonEmptyListOf(word))
    val gen = Gen.nonEmptyListOf(doc)
    cases(gen).foreach { ds =>
      val df = ds.zipWithIndex.map { case ((s, ws), i) =>
        (i.toLong, ws.mkString(" "), s"s$s") }.toDF("doc_id", "text", "source")
      val out = TextAnalysis.sourceDivergence(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      out.foreach { case (s, _, kl) =>
        assert(kl >= -1e-6, s"stratum $s has negative KL $kl") }
      assert(out.map(_._2).sum == ds.map(_._2.size).sum, "token mass lost")
    }
  }

  test("BPE merge fold == greedy left-to-right scan for random symbol runs") {
    // The oracle rebuilds merges position-wise (odd-offset acceptance in
    // runs of consecutive matches); the operator folds left-to-right.
    // Both must equal the textbook greedy scan — fuzzed here over a tiny
    // alphabet that maximizes lhs==rhs overlap runs, the only case where
    // the formulations could diverge.
    def scan(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    val gen = for {
      syms <- Gen.nonEmptyListOf(Gen.oneOf("a", "b"))
      a <- Gen.oneOf("a", "b")
      b <- Gen.oneOf("a", "b")
    } yield (syms, a, b)
    cases(gen, n = 12).foreach { case (syms, a, b) =>
      val got = Seq((syms, a, b)).toDF("syms", "__ma", "__mb")
        .select(expr(TextAnalysis.bpeMergeFold).as("m"))
        .collect().head.getSeq[String](0).toList
      assert(got == scan(syms, a, b), s"syms=$syms rule=($a,$b)")
    }
  }

  test("stripBoilerplate == driver-side reference for arbitrary corpora") {
    val docGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c")).map(_.mkString(" "))
    val gen = Gen.listOf(docGen)
    val (n, maxDf) = (2, 2)
    cases(gen).foreach { texts =>
      val all = texts ++ Seq("a b a b", "a b c", "b c a")  // guaranteed overlap
      val docs = all.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val toks = all.map(_.split(" ", -1).toSeq)
      val occ = toks.zipWithIndex.flatMap { case (ts, d) =>
        if (ts.length >= n)
          (0 to ts.length - n).map(i => (d.toLong, i + 1, ts.slice(i, i + n).mkString(" ")))
        else Nil
      }
      val bp = occ.groupBy(_._3).collect {
        case (s, os) if os.map(_._1).distinct.size > maxDf => s
      }.toSet
      val expected = toks.zipWithIndex.map { case (ts, d) =>
        val cov = occ.filter(o => o._1 == d && bp(o._3))
          .flatMap(o => o._2 until o._2 + n).toSet
        val kept = ts.zipWithIndex.collect { case (t, i) if !cov(i + 1) => t }
        d.toLong -> ((kept.length.toLong, (ts.length - kept.length).toLong,
          kept.mkString(" ")))
      }.toMap
      val got = Dedup.stripBoilerplate(docs, n, maxDf).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(got == expected, s"corpus: $all")
    }
  }

  test("cdcChunks: exact coverage, contiguity, and size cap for arbitrary payloads") {
    val gen = Gen.listOf(Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString)
    cases(gen).foreach { base =>
      // nonempty tail guarantees at least one chunk and exercises the
      // short-payload sentinel path when base is tiny
      val texts = Seq(base + "x", base.take(2) + "y", "z")
      val bin = Multimodal.asBinaryTable(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      val out = Multimodal.cdcChunks(bin, window = 3, mask = 4, maxChunk = 8)
        .orderBy("doc_id", "off_bytes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      texts.zipWithIndex.foreach { case (t, i) =>
        val mine = out.filter(_._1 == i.toLong).map(c => (c._2, c._3))
        assert(mine.head._1 == 0L, s"doc $i first chunk not at 0")
        mine.sliding(2).foreach {
          case Array((o1, s1), (o2, _)) => assert(o1 + s1 == o2, s"doc $i gap at $o1")
          case _ =>
        }
        assert(mine.map(_._2).sum == t.length.toLong, s"doc $i coverage")
        assert(mine.forall(_._2 <= 8L), s"doc $i cap")
      }
    }
  }

  test("containmentPairs blocking stays under the rare-df closed form (boilerplate fuzz)") {
    // Adversarial corpora for the x67 shape: every doc opens with the SAME
    // boilerplate run (its shingles have df = corpus size > maxDf, so
    // blocking must exclude them) plus a short rare tail with controlled
    // collisions. The §8.1 closed form: blocking candidates (undirected)
    // <= sum over RARE shingles of C(df_s, 2); the directed output is at
    // most 2x that. A pair whose overlap is ONLY boilerplate must never
    // surface — that is the documented df-cap trade-off, and the property
    // that dies first if the hot-set correction ever leaks into blocking.
    val maxDf = 3
    val boiler = "terms of service apply to all content on this site"
    val gen = Gen.listOfN(10, Gen.choose(1, 4))
    cases(gen).zipWithIndex.foreach { case (picks, ci) =>
      val corpus = picks.zipWithIndex.map { case (p, i) =>
        (i.toLong, s"$boiler r${ci}_$p s${ci}_$p u$i")
      }.toDF("doc_id", "text")
      val dfs = Dedup.shingleSet(corpus, 3)
        .groupBy("s").count().collect().map(_.getLong(1))
      val bound = dfs.filter(_ <= maxDf).map(d => d * (d - 1) / 2).sum
      val got = Dedup.containmentPairs(corpus, n = 3, threshold = 0.0, maxDf = maxDf)
      assert(got.count() <= 2 * bound,
        s"directed output ${got.count()} exceeds 2x closed-form bound $bound")
      // docs whose rare tails never collide (unique picks) share ONLY the
      // boilerplate with everyone else — they must emit no pairs at all
      val lonePicks = picks.zipWithIndex.groupBy(_._1).values
        .filter(_.size == 1).map(_.head._2.toLong).toSet
      val touched = got.collect()
        .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      assert(lonePicks.intersect(touched).isEmpty,
        s"boilerplate-only docs $lonePicks leaked into candidates $touched")
      // every emitted score is still EXACT: hot shingles excluded from
      // blocking must re-enter scoring via the hot-set correction
      val sets = corpus.collect().map(r => r.getLong(0) ->
        r.getString(1).split(" ").sliding(3).map(_.mkString(" ")).toSet).toMap
      got.collect().foreach { r =>
        val (s, d, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        val want = math.rint(
          (sets(s) intersect sets(d)).size.toDouble / sets(s).size * 10000) / 10000
        assert(c == want, s"pair ($s,$d) scored $c, set algebra says $want")
      }
    }
  }

  test("topKNeighborDocs under a mega-cluster: k-cut holds, ranking deterministic") {
    // Adversarial fixture for the x80 shape: a cluster of IDENTICAL docs
    // (every band bucket holds the whole cluster, candidates = C(m,2))
    // plus distinct cold docs. The k-cut must bound the OUTPUT at
    // topK per member regardless of cluster size, and the documented
    // (j_est DESC, n_id ASC) order makes the survivors exactly the topK
    // smallest other ids at j_est = 1.0 — deterministic under any
    // partitioning of the two-phase partial top-k.
    val topK = 3
    val gen = Gen.zip(Gen.choose(5, 10), Gen.choose(1, 3))
    cases(gen).foreach { case (hotN, coldN) =>
      val corpus = (
        (1 to hotN).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog today")) ++
        (1 to coldN).map(i => (100L + i, s"cold words c$i d$i e$i f$i g$i never repeat anywhere"))
      ).toDF("doc_id", "text")
      val out = Dedup.topKNeighborDocs(corpus, n = 3, k = 12, bands = 4, topK = topK)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(out.length <= (hotN + coldN).toLong * topK)
      val byQ = out.groupBy(_._1)
      (1 to hotN).foreach { i =>
        val mine = byQ.getOrElse(i.toLong, Array.empty[(Long, Long, Double)])
        // identical docs agree on every minhash: j_est must be exactly 1.0
        // and the k-cut keeps the topK LOWEST other ids (n_id tiebreak)
        val want = (1 to hotN).filter(_ != i).take(topK).map(_.toLong)
        assert(mine.toSeq.sortBy(_._2).map(_._2) == want,
          s"doc $i neighbors ${mine.map(_._2).toSeq} != deterministic $want")
        mine.foreach { case (_, _, j) => assert(j == 1.0) }
      }
      // cold docs share no shingles with anything: never queried
      (1 to coldN).foreach(i => assert(!byQ.contains(100L + i)))
    }
  }

  test("topKNeighborDocs: <= k rows per doc, scores within [0,1], symmetric coverage (fuzz)") {
    // random near-dup-rich corpora: every query doc gets at most k
    // neighbors, estimates are valid Jaccard estimates, and a doc appears
    // as a query iff it has at least one LSH candidate
    val base = Gen.oneOf(
      "one two three four five six seven eight",
      "one two three four five six seven nine",
      "alpha beta gamma delta epsilon zeta eta theta")
    val gen = Gen.listOfN(8, base)
    cases(gen).foreach { ts =>
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val k = 2
      val out = Dedup.topKNeighborDocs(df, n = 3, k = 12, bands = 4, topK = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      out.groupBy(_._1).foreach { case (q, rs) =>
        assert(rs.length <= k, s"doc $q got ${rs.length} > $k neighbors") }
      out.foreach { case (_, _, j) => assert(j >= 0.0 && j <= 1.0) }
      val queried = out.map(_._1).toSet
      val withCand = Dedup.lshCandidatePairs(df, n = 3, k = 12, bands = 4)
        .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      assert(queried == withCand, "query coverage != docs with candidates")
    }
  }

  test("intervalOverlapJoin equals the naive overlap join, exactly once (random intervals)") {
    // negative lows included: bucket() must floor-divide, not truncate
    val iv = Gen.listOfN(30,
      Gen.zip(Gen.choose(1, 3), Gen.choose(-50L, 50L), Gen.choose(0L, 30L)))
    val gen = Gen.zip(Gen.choose(1L, 20L), iv, iv)
    cases(gen).foreach { case (w, lr, rr) =>
      val left = lr.zipWithIndex
        .map { case ((k, lo, len), i) => (k, i.toLong, lo, lo + len) }
        .toDF("k", "lid", "llo", "lhi")
      val right = rr.zipWithIndex
        .map { case ((k, lo, len), i) => (k, 1000L + i, lo, lo + len) }
        .toDF("k", "rid", "rlo", "rhi")
      val got = Relational.intervalOverlapJoin(left, "llo", "lhi",
          right, "rlo", "rhi", bucketWidth = w, keys = Seq("k"))
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = left.join(right.withColumnRenamed("k", "k2"),
          col("k") === col("k2") &&
            col("llo") <= col("rhi") && col("rlo") <= col("lhi"))
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      // sorted SEQ compare: multiplicity matters — a pair emitted twice
      // (first-bucket dedup broken) fails even if the set matches
      assert(got == want, s"w=$w: got ${got.size} pairs, naive ${want.size}")
    }
  }

  test("transition boundaries+stitch over any time split equal the one-pass counts") {
    val gen = Gen.zip(
      Gen.listOfN(40, Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 50L),
        Gen.oneOf("A", "B", "C"))),
      Gen.choose(0L, 50L))
    cases(gen).foreach { case (evs, cut) =>
      val df = evs.zipWithIndex
        .map { case ((u, ts, t), i) => (u, ts, i.toLong, t) }
        .toDF("u", "ts", "eid", "t")
      val order = Seq(col("ts"), col("eid"))
      def counts(d: org.apache.spark.sql.DataFrame) =
        Relational.transitionCounts(d, col("u"), order, col("t"))
      // a time split keeps each user's runs contiguous (ties stay left)
      val (b0, b1) = (df.filter(col("ts") <= cut), df.filter(col("ts") > cut))
      val bounds = Relational.transitionBoundaries(b0, col("u"), order, col("t"))
        .unionByName(Relational.transitionBoundaries(b1, col("u"), order, col("t")))
      val merged = counts(b0).unionByName(counts(b1))
        .unionByName(Relational.stitchTransitions(bounds))
        .groupBy("from_type", "to_type").agg(sum("n").as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val whole = counts(df)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(merged == whole, s"cut=$cut diverged")
    }
  }

  test("tokenBudgetPlan: rate caps at 1, planned <= min(allotment, tokens), unmapped -> null") {
    val gen = Gen.zip(
      Gen.listOfN(6, Gen.zip(Gen.oneOf("a", "b", "c", "z"), Gen.choose(1L, 500L))),
      Gen.choose(100L, 2000L))
    cases(gen).foreach { case (rows, budget) =>
      val target = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
      val df = rows.zipWithIndex.map { case ((s, n), i) => (i.toLong, s, n) }
        .toDF("doc_id", "src", "n")
      val out = TextAnalysis.tokenBudgetPlan(df, col("src"), col("n"), target, budget)
        .collect()
      out.foreach { r =>
        val (stratum, tokens) = (r.getString(0), r.getLong(1))
        if (target.contains(stratum)) {
          val (rate, planned) = (r.getDouble(3), r.getLong(5))
          assert(rate > 0 && rate <= 1.0, s"$stratum rate=$rate")
          assert(planned <= tokens, s"$stratum planned exceeds available")
          assert(planned <= math.floor(budget * target(stratum)).toLong + 1,
            s"$stratum planned exceeds allotment")
          if (rate == 1.0) assert(r.getDouble(4) >= 1.0 - 1e-9, "capped rate implies epochs >= 1")
        } else {
          assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5),
            s"unmapped $stratum must surface null plan columns")
          assert(tokens > 0, "tokens still reported for unmapped strata")
        }
      }
    }
  }
}
