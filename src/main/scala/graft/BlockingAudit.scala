package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.operators.Dedup
import graft.sources.Tables

/** Blocking-cap audit main — the measurement harness behind SURVEY §8's
  * recall-vs-cap and cap-curve tables. Two modes, one JSON line per
  * measurement on stdout (env header first, same discipline as [[Bench]]):
  *
  *   runMain graft.BlockingAudit recall 64,256,1024 0.002 [0.002,...]
  *     Computes the UNCAPPED exact-Jaccard truth (threshold 0.8) once on
  *     SPARK_GRAFT_SF_DIR's documents table, then pair-recall of the
  *     df-capped [[Dedup.ngramJaccardPairs]] chain at each absolute cap,
  *     each corpus-relative fraction, and the x15 LSH blocking chain
  *     ([[Dedup.lshCandidatePairs]], contract parameters) — recall there
  *     is over CANDIDATES, the quantity banding can lose (the exact
  *     verify stage after it loses nothing). The optional 4th arg adds
  *     LSH rows under corpus-relative hot-bucket caps
  *     (`maxBucketFraction`).
  *
  *   runMain graft.BlockingAudit curve abs:256|frac:0.002
  *     Times the x10-shaped query (n=3, threshold 0.8) under the given
  *     cap spec: untimed warm-up then SPARK_GRAFT_BENCH_RUNS (default 3)
  *     timed noop-write passes, reports the median — the per-point
  *     runner for the knee-flattening ladder.
  *
  *   runMain graft.BlockingAudit planted frac:0.002,lsh:12/4,lshb:12/4:0.002
  *     Recall against the fixture's PLANTED duplicate pairs (doc i+1
  *     copies doc i for i % 500 == 0, gen_docs_fixture.py /
  *     gen_testdata.py — J = 1.0 pairs every chain MUST find) — the
  *     feasible oracle at SFs where the uncapped all-pairs truth is not
  *     computable (sf10 = 500k docs). At sf3.0 the planted set IS the
  *     measured full truth (300 of 300 pairs above threshold 0.8,
  *     logs/recall_r12_heaps_sf3.0.jsonl), which calibrates planted
  *     recall exactly against truth recall. `lshb:K/B:F` is the LSH
  *     chain under the corpus-relative hot-bucket cap
  *     (`maxBucketFraction = F`), the 100 TB production shape.
  *
  * Not part of the graded contract (Verify/Bench): audits run off-round
  * on the big local fixtures (sf0.3/sf1.0/sf3.0) where the uncapped
  * truth is still feasible, and their artifacts land in logs/.
  */
object BlockingAudit {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: recall <caps>[ <fractions>] | curve <abs:N|frac:F> | planted <specs>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val threshold = 0.8
    val spark = Sessions.local(cpus)
      .config(graft.sources.Tables.nanosAsLongKey, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.wireCheckpointDir(spark)
    println(Sessions.envLine(cpus, s""""runs":$runs,"sf":"$sfDir""""))
    val docs = Tables(spark, sfDir, "documents")

    args(0) match {
      case "recall" =>
        // "-" in a position = skip that family (the truth is the
        // expensive stage; don't force a df sweep to audit the LSH rows)
        def parse[T](i: Int, f: String => T): Seq[T] =
          if (args.length > i)
            args(i).split(",").map(_.trim).toSeq
              .filter(s => s.nonEmpty && s != "-").map(f)
          else Seq.empty
        val caps = parse(1, _.toInt)
        val fractions = parse(2, _.toDouble)
        val nDocs = docs.count()
        // the uncapped truth: every pair >= threshold (blocking with an
        // infinite cap finds every pair sharing ANY shingle, a superset
        // of every pair with J > 0) — landed in a tmp parquet, not a
        // cache: Sessions.release between caps clears ALL persistent blocks and
        // a localCheckpoint'd truth cannot be recomputed after that
        val t0 = System.nanoTime()
        val truthDir = java.nio.file.Files
          .createTempDirectory("graft_recall_truth").toString
        Dedup.ngramJaccardPairs(docs, n = 3, threshold = threshold,
            maxDf = Int.MaxValue)
          .write.mode("overwrite").parquet(truthDir)
        val truth = spark.read.parquet(truthDir)
        val truthPairs = truth.count()
        val truthSecs = (System.nanoTime() - t0) / 1e9
        println(s"""{"metric":"recall_truth","threshold":$threshold,"n_docs":$nDocs,""" +
          s""""truth_pairs":$truthPairs,"secs":$truthSecs}""")
        def report(spec: String, capValue: Long, found: DataFrame): Unit = {
          val t1 = System.nanoTime()
          val foundPairs = found.count()
          val r = Dedup.pairRecall(found, truth).collect()(0)
          val secs = (System.nanoTime() - t1) / 1e9
          println(s"""{"metric":"blocking_recall","spec":"$spec","cap":$capValue,""" +
            s""""threshold":$threshold,"truth_pairs":${r.getLong(0)},""" +
            s""""found_pairs":$foundPairs,"matched_pairs":${r.getLong(1)},""" +
            s""""recall":${r.getDouble(2)},"secs":$secs}""")
          Sessions.release(spark)
        }
        caps.foreach { c =>
          report(s"abs:$c", c.toLong,
            Dedup.ngramJaccardPairs(docs, n = 3, threshold = threshold, maxDf = c))
        }
        fractions.foreach { f =>
          // report the cap the resolver ACTUALLY applies (distinct doc_id
          // in the shingle frame — excludes sub-n-token docs), not
          // ceil(f * docs.count()), so the artifact can't drift from
          // behavior on corpora with too-short documents
          report(s"frac:$f", Dedup.resolvedDfCap(docs, 3, f),
            Dedup.ngramJaccardPairs(docs, n = 3, threshold = threshold,
              maxDf = Int.MaxValue, maxDfFraction = Some(f)))
        }
        // the x15 chain's blocking stage at contract parameters:
        // candidate-level recall (banding misses, unlike the df cap,
        // are probabilistic — 1-(1-J^r)^b)
        report("lsh:k=12,b=4", -1L,
          Dedup.lshCandidatePairs(docs, n = 3, k = 12, bands = 4))
        // optional 4th arg: corpus-relative LSH bucket caps — the
        // maxBucketFraction twin of the df audit above
        parse(3, _.toDouble).foreach { f =>
          report(s"lsh:k=12,b=4,bfrac:$f",
            Dedup.resolvedBucketCap(docs, 3, 12, f),
            Dedup.lshCandidatePairs(docs, n = 3, k = 12, bands = 4,
              maxBucketFraction = Some(f)))
        }
        // the uncapped truth is sizable at sf3.0 — don't orphan it in /tmp
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(truthDir))

      case "planted" =>
        val nDocs = docs.count()
        val truth = spark.range(nDocs)
          .filter(pmod(col("id"), lit(500)) === 0 && col("id") + 1 < nDocs)
          .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
        println(s"""{"metric":"planted_truth","n_docs":$nDocs,""" +
          s""""truth_pairs":${truth.count()}}""")
        def reportPlanted(spec: String, capValue: Long, found: DataFrame): Unit = {
          val t1 = System.nanoTime()
          val foundPairs = found.count()
          val r = Dedup.pairRecall(found, truth).collect()(0)
          val secs = (System.nanoTime() - t1) / 1e9
          println(s"""{"metric":"planted_recall","spec":"$spec","cap":$capValue,""" +
            s""""truth_pairs":${r.getLong(0)},"found_pairs":$foundPairs,""" +
            s""""matched_pairs":${r.getLong(1)},"recall":${r.getDouble(2)},""" +
            s""""secs":$secs}""")
          Sessions.release(spark)
        }
        args(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { s =>
          s.split(":") match {
            case Array("frac", f) =>
              reportPlanted(s"frac:$f", Dedup.resolvedDfCap(docs, 3, f.toDouble),
                Dedup.ngramJaccardPairs(docs, n = 3, threshold = threshold,
                  maxDf = Int.MaxValue, maxDfFraction = Some(f.toDouble)))
            case Array("lsh", kb) =>
              val Array(k, b) = kb.split("/").map(_.toInt)
              reportPlanted(s"lsh:$kb", -1L,
                Dedup.lshCandidatePairs(docs, n = 3, k = k, bands = b))
            case Array("lshb", kb, f) =>
              val Array(k, b) = kb.split("/").map(_.toInt)
              reportPlanted(s"lsh:$kb,bfrac:$f",
                Dedup.resolvedBucketCap(docs, 3, k, f.toDouble),
                Dedup.lshCandidatePairs(docs, n = 3, k = k, bands = b,
                  maxBucketFraction = Some(f.toDouble)))
            case _ => sys.error(s"bad planted spec: $s (want frac:F, lsh:K/B or lshb:K/B:F)")
          }
        }

      case "curve" =>
        val spec = args(1)
        def query(): DataFrame = spec.split(":") match {
          case Array("abs", v) =>
            Dedup.ngramJaccardPairs(docs, n = 3, threshold = threshold, maxDf = v.toInt)
          case Array("frac", v) =>
            Dedup.ngramJaccardPairs(docs, n = 3, threshold = threshold,
              maxDf = Int.MaxValue, maxDfFraction = Some(v.toDouble))
          // "lsh:12/4" times the x15 blocking chain (k/bands) — the
          // runtime-only ladder point for SFs where the uncapped truth
          // is no longer feasible
          case Array("lsh", kb) =>
            val Array(k, b) = kb.split("/").map(_.toInt)
            Dedup.lshCandidatePairs(docs, n = 3, k = k, bands = b)
          case _ => sys.error(s"bad cap spec: $spec (want abs:N, frac:F or lsh:K/B)")
        }
        val pairs = query().count() // warm-up, untimed; also the result size
        val times = (1 to runs).map { _ =>
          Sessions.release(spark)
          val t1 = System.nanoTime()
          query().write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t1) / 1e9
        }
        println(s"""{"metric":"cap_curve","spec":"$spec","threshold":$threshold,""" +
          s""""pairs":$pairs,"secs":${Sessions.median(times)},"runs":$runs,"sf":"$sfDir"}""")

      case other => sys.error(s"unknown mode: $other")
    }
    spark.stop()
  }
}
