package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall-clock seconds.
  *
  * Each query is executed with a `noop`-format write: every result column is
  * fully computed and serialized (unlike `.count()`, where Catalyst prunes
  * the very expressions the query exists to measure) but nothing hits disk,
  * so the number is engine time, not I/O-to-tmp time.
  *
  * Variance discipline (the r7→r8 lesson: a 1.56× uniform drift on
  * UNTOUCHED sub-second queries is measurement, but only a robust
  * estimator can prove it): each query runs once untimed (JIT + codegen
  * compile + file-listing caches) then SPARK_GRAFT_BENCH_RUNS (default 3)
  * timed passes in the same process; the reported number is the MEDIAN,
  * so one GC pause or scheduler hiccup inside a timed window cannot move
  * the artifact. An `env` header line records jvm/heap/cpus/load so a
  * contended-box run is identifiable in the artifact itself.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(runs >= 1, "SPARK_GRAFT_BENCH_RUNS must be >= 1")
    val spark = Sessions.local(cpus)
      .config(graft.sources.Tables.nanosAsLongKey, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.wireCheckpointDir(spark)
    // environment header FIRST (the summary line must stay last): makes a
    // contended/misconfigured box visible in the graded artifact
    println(Sessions.envLine(cpus, s""""runs":$runs"""))
    def exec(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    // local-iteration filter (comma-separated names); the driver never
    // sets it, so the graded run always measures the full contract
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        exec(name, fn) // warm-up, untimed
        val times = (1 to runs).map { _ =>
          Sessions.release(spark)
          val t0 = System.nanoTime()
          val ok = exec(name, fn)
          val dt = (System.nanoTime() - t0) / 1e9
          // -1 sentinel: a failed query must not masquerade as a fast one
          if (ok) dt else -1.0
        }
        Sessions.release(spark)
        name -> (if (times.contains(-1.0)) -1.0 else Sessions.median(times))
      }
    // JSON-escape query names (same discipline as Verify's oracle_sql
    // dump): a future name carrying a quote/backslash/control char must
    // not silently produce an artifact diff_bench.py cannot parse
    def jkey(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map { case (k, v) => jkey(k) + ":" + v }
      .mkString("{", ",", "}")
    // failures carry the -1 sentinel per query but must not SUBTRACT from
    // the graded total
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    // a filtered run must be distinguishable from a full contract run:
    // n + filtered are in the summary, so a leaked SPARK_GRAFT_BENCH_ONLY
    // is visible in the artifact, not silent
    val filtered = only.isDefined
    // the long per-query line goes first, the short summary line LAST and
    // stands alone: the driver's capture is tail-truncated (r06's
    // 111-query single line overflowed it, leaving parsed:null), so the
    // line that must survive — and be the last JSON on stdout — is short
    println(s"""{"metric":"per_query","unit":"sec","queries":$qs}""")
    // ... and because that tail truncation leaves ~70% of the contract
    // invisible to round-over-round diffs, the FULL per-query table also
    // lands as an on-disk artifact (ms, integers — sub-ms deltas are
    // noise). The DEFAULT path is gitignored (logs/bench_perq_latest
    // .json) so an externally-driven bench run can never dirty the repo
    // root — the round-13 ledger violation class, closed structurally;
    // the builder's committed per-round tables set SPARK_GRAFT_BENCH_PERQ
    // to logs/bench_perq_r<N>head.json explicitly. Skipped for filtered
    // runs — a partial table must never overwrite a full one.
    if (only.isEmpty) {
      val perqPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PERQ",
        "logs/bench_perq_latest.json")
      val perq = results.map { case (k, v) =>
        jkey(k) + ":" + (if (v < 0) -1L else Math.round(v * 1000))
      }.mkString(",\n  ")
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(perqPath),
        s"""{"unit":"ms","sf":"$sfDir","runs":$runs,"queries":{\n  $perq\n}}\n""")
      catch { case e: Throwable =>
        System.err.println(s"[bench] per-query artifact write failed: ${e.getMessage}")
      }
    }

    // Pipeline-shaped headline: the reference's only published number is
    // ~2 h for ONE DAY of ~6k orders end-to-end (BASELINE.md DOC:138 /
    // DOC:6). Time Main.run — ingest → flatten → 4 explodes → Q1-Q20 →
    // sinks — over a deterministic reference-shaped fixture of the same
    // daily volume, REAL parquet sinks included (the reference's number
    // includes its writes). SPARK_GRAFT_PIPELINE_ORDERS sizes it;
    // 0 skips the stage.
    // Same variance discipline as the queries (the r8 lesson: this stage
    // appeared ONCE per run and its artifact history read 3.9→4.6→5.56 s
    // on unchanged code — pure box contention): untimed warm-up, then
    // `runs` timed passes with inter-run release, report the MEDIAN.
    val pipelineOrders = sys.env.getOrElse("SPARK_GRAFT_PIPELINE_ORDERS", "6000").toInt
    def benchPipeline(metric: String, orders: Int, corruptFiles: Int): Unit =
      try {
        val in = java.nio.file.Files.createTempDirectory("graft_bench_in")
        val out = java.nio.file.Files.createTempDirectory("graft_bench_out")
        PipelineFixture.write(in, orders)
        // S8 surface: lace invalid day-files into the landing dir — under
        // multiLine each parses to ONE quarantined row (PERMISSIVE +
        // _corrupt_record), counted in the run report's sidecar
        for (k <- 0 until corruptFiles)
          java.nio.file.Files.writeString(
            in.resolve("2024-01-15").resolve(s"broken_$k.json"),
            s"""[{"delivery_order_id": "BAD-$k", truncated mid-reco""")
        var report = Main.run(spark, in.toString, out.toString) // warm-up, untimed
        val times = (1 to runs).map { _ =>
          Sessions.release(spark)
          val t0 = System.nanoTime()
          report = Main.run(spark, in.toString, out.toString)
          (System.nanoTime() - t0) / 1e9
        }
        Sessions.release(spark)
        val dt = Sessions.median(times)
        println(s"""{"metric":"$metric","value":$dt,"unit":"sec",""" +
          s""""runs":$runs,"orders":${report.orders},"events":${report.events},""" +
          s""""packages":${report.packages},"quarantined":${report.corruptFiles}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $metric stage failed: ${e.getMessage}")
        println(s"""{"metric":"$metric","value":-1,"unit":"sec","orders":$orders}""")
      }
    if (pipelineOrders > 0 && only.isEmpty) {
      benchPipeline("pipeline_total", pipelineOrders, corruptFiles = 0)
      // the reference's published PEAK day is ~20k orders (DOC:6) — the
      // typical-day headline stays pipeline_total; this pins the 3.3×
      // volume point so a super-linear pipeline stage can't hide
      val peak = sys.env.getOrElse("SPARK_GRAFT_PIPELINE_PEAK", "20000").toInt
      if (peak > 0) benchPipeline("pipeline_peak", peak, corruptFiles = 0)
      // quarantine-heavy day: the S8 path ACTIVE during the measured run
      // (corrupt rows split out + counted), not just spec-asserted
      val bad = sys.env.getOrElse("SPARK_GRAFT_PIPELINE_BADFILES", "8").toInt
      if (bad > 0) benchPipeline("pipeline_quarantine", pipelineOrders, corruptFiles = bad)
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":$failed,"filtered":$filtered,"sf":"$sfDir"}""")
    spark.stop()
  }
}
