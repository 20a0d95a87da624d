package graft.queries

import graft.SparkSpec

/** Plan-shape regression tests: the queries must not merely be correct,
  * they must produce the plans that survive a 100x scale-up — filters and
  * projections reaching the parquet scan, dimension joins broadcast,
  * aggregates partial-before-shuffle (the "explain and iterate" bar). */
class PlanSpec extends SparkSpec {

  private def plan(q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): String = {
    val df = q(spark, sf())
    df.collect() // finalize AQE so the executed plan is the real one
    df.queryExecution.executedPlan.toString
  }

  /** The bounded per-key cut: `agg` runs as a map-side partial aggregate,
    * and no hand-rolled collect_list / spark_partition_id phase is left. */
  private def assertBoundedTopK(p: String, agg: String): Unit = {
    assert(p.contains(s"partial_$agg("), p)
    assert(!p.contains("collect_list"), p)
    assert(!p.contains("SPARK_PARTITION_ID()"), p)
  }

  test("x11: brute-force kNN ranks with the bounded collect_top_k — zero Window nodes") {
    val p = plan(ExtensionQueries.x11)
    assert("Window".r.findAllIn(p).isEmpty, p)
    assertBoundedTopK(p, "collect_top_k")
  }

  test("OQ01: filter and projection are pushed into the parquet scan") {
    val p = plan(OracleQueries.oq01)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), p)
    // only the 3 selected columns are read — scan-level column pruning
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p)
  }

  test("OQ03: dimension joins are broadcast, never shuffled") {
    val p = plan(OracleQueries.oq03)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("OQ07: aggregation is partial (map-side) before the shuffle") {
    val p = plan(OracleQueries.oq07)
    assert(p.contains("partial_"), p) // HashAggregate(partial_count, ...)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate,"), p)
  }

  test("OQ11: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan(OracleQueries.oq11)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("OQ05/OQ06: semi/anti joins stay semi/anti at the physical level") {
    assert(plan(OracleQueries.oq05).contains("LeftSemi"))
    assert(plan(OracleQueries.oq06).contains("LeftAnti"))
  }

  test("x12/x13: codebook and cluster-size joins broadcast; corpus never sort-merges") {
    val p12 = plan(ExtensionQueries.x12)
    assert(p12.contains("BroadcastHashJoin") || p12.contains("BroadcastNestedLoopJoin"), p12)
    assert(!p12.contains("SortMergeJoin"), p12)
    val p13 = plan(ExtensionQueries.x13)
    // the only shuffles allowed are the assign/size aggregates and the
    // within-block pair join — centroids and sizes must broadcast
    assert(p13.contains("BroadcastHashJoin") || p13.contains("BroadcastNestedLoopJoin"), p13)
  }

  test("x16: tf-idf aggregates are partial before the shuffle; N is broadcast") {
    val p = plan(ExtensionQueries.x16)
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("x27/x28: mix sampling is shuffle-free; quota metadata joins broadcast") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, sf(), "documents")
    val s = graft.operators.TextAnalysis.stratifiedSample(docs, col("lang"), Map("en" -> 0.5))
    s.collect()
    val ps = s.queryExecution.executedPlan.toString
    assert(!ps.contains("Exchange"), ps) // one narrow filter, zero shuffles
    val q = graft.operators.TextAnalysis.quotaSample(docs, col("lang"), Map("en" -> 50L))
    q.collect()
    val pq = q.queryExecution.executedPlan.toString
    // the per-stratum threshold frame must broadcast onto the corpus scan;
    // the only allowed shuffles are the bounded-survivor window and the
    // tiny stratum-count aggregate inside the broadcast side
    assert(pq.contains("BroadcastHashJoin"), pq)
    assert(!pq.contains("SortMergeJoin"), pq)
  }

  test("Q14/Q15 fused: visit chain = 2 Window nodes, output identical to the fold") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables(spark, sf(), "events").select(
      col("user_id").cast("string").as("delivery_order_id"),
      col("ts").as("timestamp"), col("event_id").as("status"),
      col("event_type").as("info_user_name"))
    val work = e.select(col("delivery_order_id")).distinct()
    val fused = graft.transform.WorkGraph.updateWorkVisits(work, e, Seq(1, 2, 3, 0))
    val folded = Seq(1, 2, 3, 0).foldLeft(work)(
      (w, n) => graft.transform.WorkGraph.updateWorkVisit(w, e, n))
    // identical rows AND identical column order
    assert(fused.columns.toSeq == folded.columns.toSeq)
    assert(fused.orderBy("delivery_order_id").collect().toSeq ==
      folded.orderBy("delivery_order_id").collect().toSeq)
    // the whole visit chain rides TWO row_number windows (one asc, one
    // desc) over ONE (order, timestamp) partitioning — not four
    val p = fused.queryExecution.executedPlan.toString
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows <= 2, s"visit chain planned $windows Window nodes:\n$p")
  }

  test("Q4/Q6/Q11/Q14/Q15 event rollup: ONE exchange on events, at most 2 Window nodes") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables(spark, sf(), "events").select(
      col("user_id").cast("string").as("delivery_order_id"),
      col("ts").as("timestamp"), col("event_id").as("status"),
      col("event_type").as("info_user_name"),
      when(col("event_id") % 3 === 0, col("event_id") % 5).as("lob"))
    val rollup = graft.transform.WorkGraph.eventRollup(e)
    rollup.collect()
    val p = rollup.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // status, lob, tlmk and all four visits share one shuffle on the
    // order id: the two visit windows and the aggregation all ride it
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"event rollup planned $exchanges exchanges:\n$p")
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows <= 2, s"event rollup planned $windows Window nodes:\n$p")
  }

  test("x22/x24: repetition ratio and PII redaction plan ZERO exchanges") {
    import graft.sources.Tables
    import graft.operators.TextAnalysis
    for (df <- Seq(TextAnalysis.repetitionRatio(Tables(spark, sf(), "documents")),
                   TextAnalysis.redactPii(Tables(spark, sf(), "documents")))) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"narrow operator shuffled:\n$p")
    }
  }

  test("x23: corpus stats aggregate is partial (map-side) before the shuffle") {
    val p = plan(ExtensionQueries.x23)
    assert(p.contains("partial_"), p)
  }

  test("x25: sequence packing shuffles once, on the shard key") {
    val df = graft.operators.TextAnalysis.packSequences(
      graft.sources.Tables(spark, sf(), "documents"), 512L, 8)
    df.collect()
    // AdaptiveSparkPlan prints final AND initial plans — count only the final
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"packing must cost exactly the one shard shuffle:\n$p")
    assert(p.contains("shard"), p)
  }

  test("x29/x30: vocab is TakeOrdered over partial counts; bin assembly reuses the shard shuffle") {
    val docs = graft.sources.Tables(spark, sf(), "documents")
    val v = graft.operators.TextAnalysis.vocabulary(docs, 500)
    v.collect()
    val pv = v.queryExecution.executedPlan.toString
    assert(pv.contains("TakeOrderedAndProject"), pv) // never a global term sort
    assert(pv.contains("partial_"), pv)              // map-side combine absorbs hot terms
    val a = graft.operators.TextAnalysis.assembleBins(docs, 512L, 8)
    a.collect()
    // AdaptiveSparkPlan prints final AND initial plans — count only the final
    val pa = a.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // (shard, bin) is determined by shard, so the aggregate must ride the
    // window's shard partitioning: exactly ONE exchange, never a second
    // on (shard, bin)
    assert("Exchange hashpartitioning".r.findAllIn(pa).size == 1,
      s"bin assembly must reuse the shard shuffle:\n$pa")
  }

  test("x33/x34: chunking and upsampling plan ZERO exchanges (pure row amplification)") {
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    import graft.operators.TextAnalysis
    for (df <- Seq(
        TextAnalysis.chunkDocs(Tables(spark, sf(), "documents"), 32, 16),
        TextAnalysis.upsampleStrata(Tables(spark, sf(), "documents"),
          col("lang"), Seq("en" -> 2.5)))) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"narrow operator shuffled:\n$p")
    }
  }

  test("x35: the resample spine explodes AGGREGATED buckets, never raw events") {
    val df = ExtensionQueries.x35(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the sequence generator must sit above the min/max aggregate —
    // i.e. no Generate node reading the parquet scan directly
    val genIdx = p.indexOf("Generate explode")
    assert(genIdx >= 0, p)
    assert(p.substring(0, genIdx).contains("HashAggregate") ||
      p.substring(genIdx).contains("HashAggregate"), p)
    assert(p.contains("partial_"), p) // count partials before the shuffle
  }

  test("x36: the bloom pre-filter sits below the bench join in the plan") {
    val p = plan(ExtensionQueries.x36)
    assert(p.contains("might_contain"), p)
  }

  test("x41: bigram context is array-positional — no corpus-wide token Window") {
    val p = plan(ExtensionQueries.x41)
    // prev comes from element_at on the staged array during the explode,
    // never a LAG window over the exploded token table (which would add a
    // corpus-scale (doc_id, pos) sort-shuffle before any counting)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_"), p) // count aggregates combine map-side
  }

  test("x44: explicit-values pivot is ONE partial-aggregated shuffle, no discovery job") {
    val df = ExtensionQueries.x44(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("partial_"), p)
    // a values-less pivot would have run a separate distinct-collect job;
    // the explicit list plans a single groupBy exchange (+ the orderBy's
    // range exchange from the contract's deterministic ordering)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("x46: the funnel aggregate rides the sessionizer's user shuffle (one hash exchange)") {
    val df = ExtensionQueries.x46(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // groupBy(user_id, session_id) is satisfied by the window's
    // hashpartitioning(user_id) — partitioning on a SUBSET of the group
    // key still co-locates every group, so EnsureRequirements must not
    // add a second hash exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("x45: cube aggregates are partial (map-side) before the shuffle") {
    val p = plan(ExtensionQueries.x45)
    assert(p.contains("partial_"), p)
  }

  test("x51: quantile bucketing has NO global sort — thresholds broadcast onto a narrow pass") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokens
    val df = graft.operators.Relational.quantileBuckets(
      graft.sources.Tables(spark, sf(), "documents")
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens")),
      "n_tokens", 4)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the NTILE formulation would be an Exchange rangepartitioning + Sort
    // over the corpus; here the only wide node is the 1-row percentile
    // aggregate, broadcast back onto the scan
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("partial_percentile"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x57: bucketed range join plans an EQUI-join; the naive predicate is nested-loop") {
    import org.apache.spark.sql.functions._
    val pts = spark.range(2000).select(col("id").as("p"))
    val iv = spark.range(1000)
      .select((col("id") * 3).as("lo"), (col("id") * 3 + 4).as("hi"))
    val df = graft.operators.Relational.rangeJoinBucketed(pts, "p", iv, "lo", "hi", 5L)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the rewrite's whole point: the bucket key makes the join hashable
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // and the plan Spark picks for the raw predicate IS the quadratic one
    val naive = pts.join(iv, col("p") >= col("lo") && col("p") <= col("hi"))
    naive.collect()
    val np = naive.queryExecution.executedPlan.toString
    assert(np.contains("BroadcastNestedLoopJoin") || np.contains("CartesianProduct"), np)
  }

  test("x107: transitions plan ONE user-key window shuffle + a partial-aggregated count") {
    val p = plan(ExtensionQueries.x107)
    // the lead window partitions BY USER — a global-order Window would
    // single-thread the corpus
    assert(p.contains("windowspecdefinition(__u"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x108: budget plan is one partial-aggregated token sum; scan prunes to 2 columns") {
    val p = plan(ExtensionQueries.x108)
    assert(p.contains("partial_"), p)
    // only the stratum + text columns feed the plan — the scan must not
    // drag the full documents schema
    assert(p.contains("ReadSchema: struct<text:string,source:string>"), p)
  }

  test("x109: interval-overlap join plans an EQUI-join on (key, bucket), never nested-loop") {
    val p = plan(ExtensionQueries.x109)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the overlap test and first-bucket guard are residual FILTERS on an
    // equi-join, not join strategies of their own
    assert(p.contains("Join") || p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("x110: heavy-hitter report is TakeOrdered over partial counts, no global sort") {
    val p = plan(ExtensionQueries.x110)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_"), p)
  }

  test("x111: gopher rules are one narrow projection — zero exchanges, 2-column scan") {
    // pin the OPERATOR (the query's orderBy is presentation-only)
    val df = graft.operators.TextAnalysis.gopherRules(
      graft.sources.Tables(spark, sf(), "documents"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("x112: source health shuffles hashes + source keys only; total is a 1-row broadcast") {
    val p = plan(ExtensionQueries.x112)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("x114: graph stats joins stay equi-joins — no nested-loop over the pair set") {
    val p = plan(ExtensionQueries.x114)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("x115: inter-arrival window partitions BY USER; one partial-aggregated pass after") {
    val p = plan(ExtensionQueries.x115)
    assert(p.contains("windowspecdefinition(__u"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x116: fertility joins the BROADCAST vocab — the corpus side never sort-merges") {
    val p = plan(ExtensionQueries.x116)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x120: centroid drift joins AGGREGATED means only — corpus passes end in partial aggs") {
    val p = plan(ExtensionQueries.x120)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only sort-merge allowed is the codebook·dim-sized full-outer of
    // the two mean frames — a corpus-sized SMJ would key on vec_id
    val smj = "SortMergeJoin \\[([a-z_#0-9L]+), ([a-z_#0-9L]+)\\]".r
    smj.findAllMatchIn(p).foreach { m =>
      assert(m.group(1).startsWith("cluster") && m.group(2).startsWith("dim"),
        s"unexpected SMJ keys: ${m.matched}")
    }
    assert(!p.contains("SortMergeJoin [vec_id"), p)
  }

  test("x104: CDC chunking has ZERO Window nodes and no per-byte position explode") {
    val p = plan(ExtensionQueries.x104)
    // the CdcCuts expression replaced the per-byte sequence explode +
    // per-doc LEAD window; only segment/offset explodes (output-sized)
    // may remain, and no shuffle-backed Window at all
    assert(!p.contains("Window"), p)
    assert(p.contains("graft_cdc_cuts"), p)
  }

  test("x01: exact dedup shuffles 32-byte hashes, not document text") {
    val p = plan(ExtensionQueries.x01)
    // the exchange key is the md5 helper column, derived before the shuffle
    assert(p.contains("md5"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x70: EWMA has ZERO Window nodes — votes ride one aggregate, no frame sort") {
    val p = plan(ExtensionQueries.x70)
    // a weighted frame would need collect_list-per-row or a window pass;
    // the vote-explode shape keeps the plan window-free past the spine
    assert(!p.split("== Initial Plan ==").head.contains("RunningWindowFunction"), p)
    assert("Window".r.findAllIn(p.split("== Initial Plan ==").head).isEmpty, p)
    assert(p.contains("partial_"), p)
  }

  test("x73: diversity is two linear aggregates — no pair join anywhere") {
    val p = plan(ExtensionQueries.x73)
    // the naive mean-pairwise-distance is a corpus self-join; the moment
    // identity must never produce one (only the tiny per-dim/base joins)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("x69: SRP fingerprints are a narrow projection (no shuffle before banding)") {
    val p = plan(ExtensionQueries.x69)
    // planes are literals: no codebook join, no training pass; the only
    // exchanges are the banding-pair machinery on (id, band, key) longs
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x74: KMV min-k is two-phase aggregation — zero Window nodes") {
    val p = plan(ExtensionQueries.x74).split("== Initial Plan ==").head
    // the naive k-th-minimum is ROW_NUMBER over a per-stratum sort; the
    // sketch must build from the partial graft_min_k aggregate instead
    assert("Window".r.findAllIn(p).isEmpty, p)
    assertBoundedTopK(p, "graft_min_k")
  }

  test("x77: the salted join's exchange keys INCLUDE the salt (hot key spread)") {
    val p = plan(ExtensionQueries.x77)
    // the whole point of the rewrite: the join partitioning is
    // (key, salt), so one hot l_suppkey lands on saltBuckets reducers
    assert(p.contains("__salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x78: the JL projection is narrow with the codegen'd dot, no HOF fallback") {
    val p = plan(ExtensionQueries.x78)
    // the only exchange is the presentation ORDER BY's range partition —
    // projection and posexplode are narrow (no hash shuffle anywhere)
    assert(!p.contains("hashpartitioning"), p)
    // the plane fold runs as graft_dot, not an interpreted zip_with/aggregate
    assert(p.contains("graft_dot"), p)
    assert(!p.contains("zip_with"), p)
  }

  test("x79: source KL aggregates are partial; stratum totals broadcast, never re-shuffled") {
    val p = plan(ExtensionQueries.x79)
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // no corpus-keyed sort anywhere: everything after the explode is
    // hash-aggregate + joins over vocab-sized frames
    assert("Window".r.findAllIn(p).isEmpty, p)
  }

  test("x80: per-doc neighbor ranking is two-phase top-k — zero Window nodes") {
    val p = plan(ExtensionQueries.x80)
    assert("Window".r.findAllIn(p).isEmpty, p)
    assertBoundedTopK(p, "collect_top_k")
  }

  test("x94: boilerplate strip is window-free and never collect_list-reassembles tokens") {
    val p = plan(ExtensionQueries.x94)
    assert("Window".r.findAllIn(p).isEmpty, p)
    // reassembly is the narrow coverage-array HOF, not a token-table
    // collect_list shuffle (the shape this operator shipped with)
    assert(!p.contains("collect_list"), p)
    assert(p.contains("partial_"), p)
  }

  test("x95: the DSIR cut is TakeOrdered, never a global sort or window") {
    val p = plan(ExtensionQueries.x95)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Window".r.findAllIn(p).isEmpty, p)
  }

  test("x100: classifier scoring is broadcast-only past the aggregates — no window, no SMJ") {
    val p = plan(ExtensionQueries.x100)
    assert("Window".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x97: the exact Lloyd update is partial-aggregated, window-free") {
    val p = plan(ExtensionQueries.x97)
    assert("Window".r.findAllIn(p).isEmpty, p)
    assert(p.contains("partial_"), p)
  }

  test("round-7 queries: no CartesianProduct anywhere (crossJoins are 1-row broadcasts)") {
    val r7 = Seq(ExtensionQueries.x94 _, ExtensionQueries.x95 _,
      ExtensionQueries.x96 _, ExtensionQueries.x97 _, ExtensionQueries.x98 _,
      ExtensionQueries.x99 _, ExtensionQueries.x100 _, ExtensionQueries.x101 _,
      ExtensionQueries.x102 _, ExtensionQueries.x103 _, ExtensionQueries.x104 _,
      ExtensionQueries.x105 _)
    r7.zipWithIndex.foreach { case (q, i) =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"query x${94 + i}:\n$p")
    }
  }

  test("x57/x100: parquet scans stay pruned — filters pushed, ReadSchema only what the query uses") {
    // a refactor that re-selects '*' upstream or wraps the filter in an
    // opaque expression silently un-prunes the scan; pin the scan strings
    // of two representative non-OQ queries (OQ01 pins the third above)
    val p57 = plan(ExtensionQueries.x57)
    // the quantity filter must reach the lineitem scan...
    assert(p57.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,"), p57)
    // ...and each side reads ONLY its join/aggregate columns
    assert(p57.contains("ReadSchema: struct<l_quantity:double,l_shipdate:timestamp_ntz>"), p57)
    assert(p57.contains("ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp_ntz>"), p57)
    val p100 = plan(ExtensionQueries.x100)
    // the gate reads (doc_id, text, n_chars); the training pass inside it
    // doesn't even carry doc_id — never the full documents row
    assert(p100.contains("ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>"), p100)
    assert(p100.contains("ReadSchema: struct<text:string,n_chars:bigint>"), p100)
    assert(!p100.contains("lang") && !p100.contains("source:"),
      s"x100 scan widened to unused columns:\n$p100")
  }

  test("x122: the Zipf head cut is two-phase aggregation — zero Window nodes, partial counts") {
    val p = plan(ExtensionQueries.x122)
    assert("Window".r.findAllIn(p).isEmpty, p)
    assert(p.contains("partial_count("), p)
    assertBoundedTopK(p, "collect_top_k")
    assert(!p.contains("CartesianProduct"), p)
    // the fit reads exactly (text, source) — scan stays 2-column pruned
    assert(p.contains("ReadSchema: struct<text:string,source:string>"), p)
  }

  test("x123: the bench shingle set broadcasts; the corpus side never sort-merges") {
    val p = plan(ExtensionQueries.x123)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Window".r.findAllIn(p).isEmpty, p)
  }

  test("x124: the mass cut is TakeOrdered over the CC chain — no global sort, no cartesian") {
    val p = plan(ExtensionQueries.x124)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x125: calibration is broadcast thresholds over the scoring chain — window-free, no SMJ") {
    val p = plan(ExtensionQueries.x125)
    assert("Window".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("x126: pack efficiency rides only the shard-keyed packing window; rollups are partial-aggregated") {
    val p = plan(ExtensionQueries.x126)
    // every Window node in the (AQE-duplicated) plan string is the
    // packing window partitioned by shard — no second window key sneaks in
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows >= 1, p)
    assert("windowspecdefinition\\(shard".r.findAllIn(p).size === windows, p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x127: the fertility vocab join broadcasts — corpus never sort-merges") {
    val p = plan(ExtensionQueries.x127)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x128/x129: estimator evaluation rides the audited chains — no cartesian, threshold list broadcasts") {
    val p128 = plan(ExtensionQueries.x128)
    assert(!p128.contains("CartesianProduct"), p128)
    assert("Window".r.findAllIn(p128).isEmpty, p128)
    val p129 = plan(ExtensionQueries.x129)
    assert(!p129.contains("CartesianProduct"), p129)
    // the |thresholds|-row amplification must be a broadcast nested loop,
    // never a shuffled product
    assert(p129.contains("BroadcastNestedLoopJoin"), p129)
  }

  test("x130: the Heaps window runs over AGGREGATED buckets, partitioned by source") {
    val p = plan(ExtensionQueries.x130)
    // every window spec is the per-source cumulative pass — never a
    // raw-doc key (the two cumulative sums share one source-keyed spec)
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    assert(specs >= 1, p)
    assert("windowspecdefinition\\(source".r.findAllIn(p).size === specs, p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x131: the vocabulary axis broadcasts onto the count vectors; no cartesian") {
    val p = plan(ExtensionQueries.x131)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("Window".r.findAllIn(p).isEmpty, p)
  }

  test("x132: latency window is user-keyed only; the edge aggregate is partial") {
    val p = plan(ExtensionQueries.x132)
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    assert(specs >= 1, p)
    assert("windowspecdefinition\\(__u".r.findAllIn(p).size === specs, p)
    assert(p.contains("partial_"), p)
  }

  test("x133: distinctive-term cut is two-phase — zero Window nodes, |sources| broadcast") {
    val p = plan(ExtensionQueries.x133)
    assert("Window".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
    assertBoundedTopK(p, "collect_top_k")
  }

  test("x134/x136: confusion matrix and behavior entropy are partial-aggregated, window-free") {
    val p134 = plan(ExtensionQueries.x134)
    assert(p134.contains("partial_") && p134.contains("BroadcastHashJoin"), p134)
    assert(!p134.contains("SortMergeJoin"), p134)
    val p136 = plan(ExtensionQueries.x136)
    assert(p136.contains("partial_"), p136)
    assert("Window".r.findAllIn(p136).isEmpty && !p136.contains("Join"), p136)
  }

  test("x135: the embedding audit is ONE narrow pass — no join, no window, partial summary") {
    val p = plan(ExtensionQueries.x135)
    assert(!p.contains("Join") && "Window".r.findAllIn(p).isEmpty, p)
    assert(p.contains("partial_"), p)
    // the codegen'd dot runs in the scan projection, not an interpreted HOF
    assert(p.contains("graftdot") || p.contains("graft_dot") || p.contains("DotProduct")
      || !p.contains("aggregate(zip_with"), p)
  }

  test("x102: PSI buckets both sides in narrow projections — no corpus-side range partitioning") {
    val p = plan(ExtensionQueries.x102)
    assert("Window".r.findAllIn(p).isEmpty, p)
    // an NTILE formulation would rangepartition the CORPUS on the value
    // column; the threshold-array formulation's only range exchange is
    // the 10-row output ORDER BY bucket
    val rp = "rangepartitioning\\(([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(rp.subsetOf(Set("bucket")), s"corpus-side range exchange: $rp\n$p")
  }

  test("x138: bench shingles broadcast; the run fold is window-free and partial-aggregated") {
    val p = plan(ExtensionQueries.x138)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert("Window".r.findAllIn(p).isEmpty, p)
    assert(p.contains("partial_"), p)
  }

  test("x139/x140: epoch plan and profile twins are pure aggregate chains — no window, no real join") {
    val p139 = plan(ExtensionQueries.x139)
    assert("Window".r.findAllIn(p139).isEmpty && !p139.contains("Join"), p139)
    assert(p139.contains("partial_"), p139)
    val p140 = plan(ExtensionQueries.x140)
    assert("Window".r.findAllIn(p140).isEmpty && !p140.contains("Join"), p140)
    assert(p140.contains("partial_"), p140)
  }

  test("x141/x142: chunk lang and sample calibration stay window-free; only scalar broadcasts join") {
    val p141 = plan(ExtensionQueries.x141)
    assert("Window".r.findAllIn(p141).isEmpty, p141)
    assert(!p141.contains("SortMergeJoin") && !p141.contains("CartesianProduct"), p141)
    assert(p141.contains("partial_"), p141)
    val p142 = plan(ExtensionQueries.x142)
    assert("Window".r.findAllIn(p142).isEmpty, p142)
    // the full-corpus baseline attaches as a 1-row broadcast, never a shuffle join
    assert(!p142.contains("SortMergeJoin") && !p142.contains("CartesianProduct"), p142)
  }

  test("x143: fingerprints are projection-only before the banding self-join; no window, no cartesian") {
    val p = plan(ExtensionQueries.x143)
    assert("Window".r.findAllIn(p).isEmpty && !p.contains("CartesianProduct"), p)
    // the pair join keys on (band, key) — an equi-join, whatever strategy AQE picks
    assert(p.contains("band"), p)
  }

  test("x144/x145/x146: repeat runs, hour profiles, and the FD audit are window-free aggregate chains") {
    for (q <- Seq(ExtensionQueries.x144 _, ExtensionQueries.x145 _, ExtensionQueries.x146 _)) {
      val p = plan(q)
      assert("Window".r.findAllIn(p).isEmpty, p)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
      assert(p.contains("partial_"), p)
    }
  }

  test("x147: the pair frame broadcasts into the label joins; no corpus sort-merge") {
    val p = plan(ExtensionQueries.x147)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && "Window".r.findAllIn(p).isEmpty, p)
  }

  test("x148: signal joins are doc-keyed; bucket thresholds broadcast — no window, no rangepartitioning past the output sort") {
    val p = plan(ExtensionQueries.x148)
    assert("Window".r.findAllIn(p).isEmpty && !p.contains("CartesianProduct"), p)
    // the three threshold frames attach as 1-row broadcasts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    val rp = "rangepartitioning\\(([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(rp.subsetOf(Set("doc_id")), s"unexpected range exchange: $rp")
  }

  test("x149/x151: vocab broadcast and shard arithmetic stay window-free with partial aggregation") {
    val p149 = plan(ExtensionQueries.x149)
    assert(p149.contains("BroadcastHashJoin") && !p149.contains("SortMergeJoin"), p149)
    assert("Window".r.findAllIn(p149).isEmpty && p149.contains("partial_"), p149)
    val p151 = plan(ExtensionQueries.x151)
    assert("Window".r.findAllIn(p151).isEmpty && !p151.contains("Join"), p151)
    assert(p151.contains("partial_"), p151)
  }

  test("x150: cohort lag is two partial aggregates and one user-keyed join — window-free") {
    val p = plan(ExtensionQueries.x150)
    assert("Window".r.findAllIn(p).isEmpty && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("x152/x155: session and spine windows stay user-/type-keyed; no global ordering") {
    val p152 = plan(ExtensionQueries.x152)
    val keys152 = "windowspecdefinition\\(([a-z_]+)#".r
      .findAllMatchIn(p152).map(_.group(1)).toSet
    assert(keys152.subsetOf(Set("user_id")), s"window keys $keys152")
    val p155 = plan(ExtensionQueries.x155)
    assert("Window".r.findAllIn(p155).isEmpty && !p155.contains("CartesianProduct"), p155)
    assert(p155.contains("partial_"), p155)
  }

  test("x156/x157: the audits attach scalar counts as 1-row broadcasts; no global window") {
    for (q <- Seq(ExtensionQueries.x156 _, ExtensionQueries.x157 _)) {
      val p = plan(q)
      assert("Window".r.findAllIn(p).isEmpty, p)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("x162-x165: the data-quality reports are window-free bounded aggregates") {
    for (q <- Seq(ExtensionQueries.x162 _, ExtensionQueries.x163 _,
                  ExtensionQueries.x164 _, ExtensionQueries.x165 _)) {
      val p = plan(q)
      assert("Window".r.findAllIn(p).isEmpty && !p.contains("CartesianProduct"), p)
    }
    // the null profile is ONE pass: a single scan feeding one aggregate
    val p163 = plan(ExtensionQueries.x163)
    assert(!p163.contains("Join"), p163)
  }

  test("x153/x154: active days and grouped correlation are pure aggregate chains") {
    for (q <- Seq(ExtensionQueries.x153 _, ExtensionQueries.x154 _)) {
      val p = plan(q)
      assert("Window".r.findAllIn(p).isEmpty && !p.contains("CartesianProduct"), p)
      assert(p.contains("partial_"), p)
    }
  }

  test("x169-x172: JSON profiling is ONE parse feeding window-free aggregates") {
    for (q <- Seq(ExtensionQueries.x169 _, ExtensionQueries.x170 _,
                  ExtensionQueries.x171 _, ExtensionQueries.x172 _)) {
      val p = plan(q)
      assert("Window".r.findAllIn(p).isEmpty && !p.contains("CartesianProduct"), p)
      assert(p.contains("partial_"), p)
    }
    // the one-row health gate never joins
    val p170 = plan(ExtensionQueries.x170)
    assert(!p170.contains("Join"), p170)
  }

  test("x173/x176: linkage blocks equi-join on the block key — never a name cross product") {
    for (q <- Seq(ExtensionQueries.x173 _, ExtensionQueries.x176 _)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("x177/x178/x179: the round-13 closers keep the audited shapes") {
    // x177: the codebook assign is the ONLY nested-loop (a broadcast of
    // 16 centroids); the pair stage equi-joins on (cluster, blk)
    val p177 = plan(ExtensionQueries.x177)
    assert(!p177.contains("CartesianProduct"), p177)
    assert(p177.contains("BroadcastHashJoin") || p177.contains("BroadcastNestedLoopJoin"), p177)
    // x178: scalar folds attach as 1-row broadcasts; no window anywhere
    val p178 = plan(ExtensionQueries.x178)
    assert("Window".r.findAllIn(p178).isEmpty && !p178.contains("CartesianProduct"), p178)
    // x179: every lag join is equi-keyed on (type, bucket); the moment
    // fold is partial-aggregated; zero Window nodes
    val p179 = plan(ExtensionQueries.x179)
    assert("Window".r.findAllIn(p179).isEmpty && !p179.contains("CartesianProduct"), p179)
    assert(p179.contains("partial_"), p179)
  }

  test("S9 bucketed layout: a Q-chain joinUpdate is EXCHANGE-FREE over bucketed work/master tables") {
    import org.apache.spark.sql.functions._
    // WorkGraph's header claim made real: at 100 TB the work/master
    // frames live bucketed on delivery_order_id (TableSink.writeBucketed)
    // and every joinUpdate co-locates — this pin proves the physical plan
    // carries ZERO exchanges even with the broadcast escape hatch closed
    // (the shape a 100 TB master can't take)
    val n = 1000L
    val master = spark.range(n).select(
      concat(lit("ORD-"), col("id")).as("delivery_order_id"),
      array(struct(lit("SKU1").as("sku"), (col("id") % 5 + 1).as("qty")))
        .as("items_json"))
    val work = spark.range(n).select(
      concat(lit("ORD-"), col("id")).as("delivery_order_id"),
      (col("id") % 7).as("status"))
    graft.sinks.TableSink.writeBucketed(master, "bkt_master", "delivery_order_id", 4)
    graft.sinks.TableSink.writeBucketed(work, "bkt_work", "delivery_order_id", 4)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      // Q12's joinUpdate (the chain's generic UPDATE shape) over the
      // bucketed tables: a sort-merge join with NO exchange on either side
      val joined = graft.transform.WorkGraph.updateWorkTotal(
        spark.table("bkt_work"), spark.table("bkt_master"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("Exchange"), s"bucketed joinUpdate shuffled:\n$p")
      assert(p.contains("SortMergeJoin"), p)
      // and a delivery_order_id-keyed aggregate (the Q7 rollup shape)
      // rides the same layout shuffle-free
      val agg = spark.table("bkt_master")
        .groupBy("delivery_order_id").agg(count(lit(1)).as("n"))
      agg.collect()
      val pa = agg.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!pa.contains("Exchange"), s"bucketed aggregate shuffled:\n$pa")
    } finally {
      spark.conf.set(thresholdKey, prior)
      spark.sql("DROP TABLE IF EXISTS bkt_master")
      spark.sql("DROP TABLE IF EXISTS bkt_work")
    }
  }
}
