package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NumericFunctions
import graft.functions.NumericFunctions.detRound
import graft.functions.TextFunctions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, and document fingerprinting.
  * All narrow (per-row) transformations — zero shuffle, fully inside
  * whole-stage codegen, trivially scale-out.
  */
object TextAnalysis {

  /** Stopword lexicons for the n-gram language-ID heuristic. Deliberately
    * tiny and fixed: the oracle replays them verbatim. */
  val lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "un"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une", "est"),
    "zh" -> Seq("de", "le", "shi", "bu", "zai", "you", "he"))

  /** Argmax language over staged `cnt_<lang>` count columns; ties break by
    * lexicon order (foldRight nests the first lexicon outermost, so 'en'
    * wins ties); 'und' (undetermined) when no lexicon hits at all. The
    * SINGLE definition shared by langId and curationScores — the fused
    * path must not be able to drift from the composed one. */
  private def predLangExpr: Column = {
    val maxCnt = greatest(lexicons.map { case (l, _) => col(s"cnt_$l") }: _*)
    val argmax = lexicons.foldRight(lit("und")) { case ((l, _), e) =>
      when(col(s"cnt_$l") === maxCnt, l).otherwise(e)
    }
    when(maxCnt > 0, argmax).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1] — shared by quality and
    * curationScores (same no-drift rule as [[predLangExpr]]). */
  private def qualityScoreExpr(nTok: Column, nChar: Column, digits: Column): Column =
    detRound(least(nTok.cast("double") / lit(100.0), lit(1.0)) *
      (lit(1.0) - digits / nChar), 4)

  /** Shared text-signal staging + definitions for quality and
    * curationScores — the SINGLE source of the token array and the raw
    * signals feeding [[qualityScoreExpr]], so the fused and composed
    * paths read the same inputs by construction. Tokens are staged as a
    * column (see [[langId]]'s note on interpreted HOF re-splits). */
  private def stagedText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), tokens(col("text")).as("__ts"))
  private def nTokExpr: Column = size(col("__ts")).cast("long")
  private def nCharExpr: Column = length(col("text")).cast("double")
  private def digitsExpr: Column =
    size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("double")

  /** Language-ID: argmax of stopword hits (see [[predLangExpr]]).
    *
    * The token array is STAGED as a column before the per-lexicon counts:
    * higher-order functions evaluate interpreted, so an unstaged
    * `tokens(text)` inlined into every lambda would re-split the text once
    * per lexicon per row (measured ~3× the whole query's cost). */
  def langId(docs: DataFrame): DataFrame = {
    val staged = docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("__ts"))
    val ts = col("__ts")
    val scored = staged.select(
      (col("doc_id") +: col("lang").as("lang_label") +:
        lexicons.map { case (l, ws) => wordSetCount(ts, ws).as(s"cnt_$l") }): _*)
    scored.select(col("doc_id"), predLangExpr.as("pred_lang"), col("lang_label"))
  }

  /** Quality signals + a composite score in [0,1]:
    * n_tokens, mean token length, digit ratio, stopword ratio. */
  def quality(docs: DataFrame): DataFrame = {
    val stops = wordSetCount(col("__ts"), lexicons.head._2).cast("double")
    stagedText(docs).select(
      col("doc_id"),
      nTokExpr.as("n_tokens"),
      detRound(nCharExpr / nTokExpr.cast("double"), 4).as("mean_tok_len"),
      detRound(digitsExpr / nCharExpr, 4).as("digit_ratio"),
      detRound(stops / nTokExpr.cast("double"), 4).as("stopword_ratio"),
      qualityScoreExpr(nTokExpr, nCharExpr, digitsExpr).as("quality_score"))
  }

  /** Token counting, two ways: whitespace tokens and a BPE-ish regex
    * (alpha runs | digit runs | single other non-space char). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("bpe_tokens"))

  /** The curation gate (language + quality) fused into ONE projection:
    * composing langId ⋈ quality joins two derivations of the same row —
    * an exchange, and a second pass over the upstream (typically a
    * dedupe shuffle), for columns computable side by side. Semantics are
    * identical to the composition (spec-asserted).
    * Output: doc_id, pred_lang, quality_score. */
  def curationScores(docs: DataFrame): DataFrame = {
    val c = stagedText(docs).select(
      (col("doc_id") +: nTokExpr.as("__n") +: nCharExpr.as("__c") +: digitsExpr.as("__d") +:
        lexicons.map { case (l, ws) => wordSetCount(col("__ts"), ws).as(s"cnt_$l") }): _*)
    c.select(col("doc_id"),
      predLangExpr.as("pred_lang"),
      qualityScoreExpr(col("__n"), col("__c"), col("__d")).as("quality_score"))
  }

  /** N-gram repetition ratio (a C4/Gopher-style quality signal: templated
    * or looping text repeats its n-grams): per doc, total n-grams vs
    * DISTINCT n-grams, ratio = 1 - distinct/total. Entirely narrow —
    * array ops inside one projection, no explode, no shuffle. Docs with
    * fewer than n tokens emit nothing (no n-grams to judge).
    * Output: doc_id, t_grams, d_grams, rep_ratio. */
  def repetitionRatio(docs: DataFrame, n: Int = 3): DataFrame = {
    // staged projections so the token array, the shingle array, and the
    // two counts each materialize ONCE per row: an unstaged
    // `shingles(rawTokens(text), n)` inlines the split into the transform
    // lambda, re-splitting the text on every element access (interpreted
    // HOF eval — measured at ~3× the whole query's cost), and referencing
    // the HOF from several output columns would re-run it per reference
    docs.select(col("doc_id"), rawTokens(col("text")).as("__ts"))
      .filter(size(col("__ts")) >= n)
      .select(col("doc_id"), shingles(col("__ts"), n).as("__sh"))
      .select(col("doc_id"),
        size(col("__sh")).cast("long").as("t_grams"),
        size(array_distinct(col("__sh"))).cast("long").as("d_grams"))
      .select(col("doc_id"), col("t_grams"), col("d_grams"),
        detRound(lit(1.0) - col("d_grams").cast("double") / col("t_grams"), 4)
          .as("rep_ratio"))
  }

  /** Per-language corpus statistics (curation dashboard: is a language
    * under-tokenized? did a filter skew the length distribution?): doc
    * count, mean/median/p95 whitespace-token counts. Uses EXACT
    * percentile — right for bounded group counts (languages, sources); at
    * corpus scale swap percentile → approx_percentile, which is
    * partial-aggregable and bounded-memory, at the cost of the oracle
    * equality this query pins. Output: lang, n_docs, mean_tokens,
    * median_tokens, p95_tokens. */
  /** One aggregate body for both corpusStats variants — only the quantile
    * expressions differ, so the tokenization/rounding discipline cannot
    * drift between the exact and approximate paths. */
  private def corpusStatsWith(docs: DataFrame,
                              median: Column, p95: Column): DataFrame =
    docs.select(col("lang"), size(tokens(col("text"))).cast("double").as("n"))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        detRound(avg(col("n")), 4).as("mean_tokens"),
        round(median, 4).as("median_tokens"),
        round(p95, 4).as("p95_tokens"))

  def corpusStats(docs: DataFrame): DataFrame =
    corpusStatsWith(docs, expr("percentile(n, 0.5)"), expr("percentile(n, 0.95)"))

  /** The corpus-scale twin of [[corpusStats]]: approx_percentile buffers a
    * bounded sketch per group instead of every value, so memory stays flat
    * however large a language's slice grows. `accuracy` trades sketch size
    * for error (10000 ≈ 1/10000 rank error). Same output schema; values
    * are approximate, so no SQL-equality oracle — accuracy is
    * property-tested against the exact operator instead. */
  def corpusStatsApprox(docs: DataFrame, accuracy: Int = 10000): DataFrame =
    corpusStatsWith(docs,
      percentile_approx(col("n"), lit(0.5), lit(accuracy)),
      percentile_approx(col("n"), lit(0.95), lit(accuracy)))

  /** RE2-safe PII patterns (no backrefs/lookarounds, so the identical
    * pattern runs under Java regex and RE2-family engines): email
    * addresses, and 8+-char digit runs with common phone separators. */
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val longNumRe = "[0-9][0-9 ()./-]{6,}[0-9]"

  /** PII redaction (corpus hygiene before training): masks emails and
    * long numbers with typed placeholders and counts each. Pure
    * regexp_replace/extract_all — narrow, zero shuffle. Emails redact
    * FIRST so an address's digits can't half-match the number pattern.
    * Output: doc_id, clean_text, n_emails, n_numbers. */
  def redactPii(docs: DataFrame): DataFrame = {
    val noEmail = regexp_replace(col("text"), emailRe, "<EMAIL>")
    docs.select(
      col("doc_id"),
      regexp_replace(noEmail, longNumRe, "<NUM>").as("clean_text"),
      size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(noEmail, lit(longNumRe), lit(0)))
        .cast("long").as("n_numbers"))
  }

  /** PII PREVALENCE per source — [[redactPii]]'s counters rolled into
    * the monitoring read: which feeds carry personal data, how densely,
    * and what share of their documents is affected. Redaction (x24)
    * cleans documents one at a time; this report is what decides
    * whether a SOURCE needs quarantine review before its next ingest,
    * and which redactor hot-spots deserve a second pattern pass. Same
    * RE2-safe patterns, so the report and the redactor cannot disagree
    * about what counts. One fused per-row projection into a |sources|-
    * row aggregate with map-side partials. Output: source, n_docs,
    * docs_with_pii, pii_doc_rate (ROUND 6), n_emails, n_numbers. */
  def piiPrevalence(docs: DataFrame): DataFrame = {
    val noEmail = regexp_replace(col("text"), emailRe, "<EMAIL>")
    val staged = docs.select(col("source"),
      size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
        .cast("long").as("__e"),
      size(regexp_extract_all(noEmail, lit(longNumRe), lit(0)))
        .cast("long").as("__n"))
    staged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__e") + col("__n") > 0L, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(col("__e")).as("n_emails"), sum(col("__n")).as("n_numbers"))
      .select(col("source"), col("n_docs"), col("docs_with_pii"),
        detRound(col("docs_with_pii").cast("double") / col("n_docs"), 6)
          .as("pii_doc_rate"),
        col("n_emails"), col("n_numbers"))
  }

  /** Document fingerprints: full-content md5 + token-level polynomial
    * rolling hash (order-sensitive, whitespace-insensitive). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(col("text")).as("md5_sig"),
      rollingFingerprint(tokens(col("text"))).as("roll_sig"))

  /** Deterministic train/val/test assignment: bucket = md5(doc_id) mod
    * 100, split by cumulative percentage cut-points. Content-independent
    * and engine-independent (md5 on the id string, no engine-private
    * hash), so the same document lands in the same split on every run,
    * every engine, and every corpus size — the property corpus prep needs
    * so later re-runs never leak val/test docs into train. Narrow, no
    * shuffle. Output: doc_id, split. */
  def deterministicSplit(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val bucket = md5Mod(col("doc_id"), lit(100L))
    docs.select(col("doc_id"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Salt + resolution for [[stratifiedSample]]'s uniform draw. The salt
    * decorrelates the mix draw from [[deterministicSplit]]'s unsalted
    * bucket (without it, sampling a stratum at fraction f would keep
    * exactly the lowest f·100 split buckets — every sampled doc lands in
    * 'train'); the resolution quantizes fractions to 1e-6. Both are baked
    * into the generated oracle SQL, so engine and oracle cannot drift. */
  val mixSalt = "#mix"
  val mixResolution = 1000000L

  /** THE salted uniform draw in [0, mixResolution) — one definition
    * shared by [[stratifiedSample]] and [[quotaSample]] (and mirrored by
    * their generated oracles), so the two samplers cannot drift apart. */
  private def mixDraw: Column =
    md5Mod(concat(col("doc_id").cast("string"), lit(mixSalt)), lit(mixResolution))

  /** Deterministic per-stratum downsampling — the data-mixing step of a
    * pretraining pipeline (rebalance language/source proportions before
    * tokenization): keep a document iff md5(doc_id || salt) mod 1e6 <
    * round(fraction(stratum) · 1e6). Content- and corpus-size-independent
    * like [[deterministicSplit]], so re-runs and other engines keep
    * exactly the same documents — reproducible mixes, stable ablations.
    * Strata absent from `fractions` keep `defaultFraction`. Narrow: one
    * filter, no shuffle, no per-stratum pass — the threshold is a small
    * when-chain compiled into the predicate. */
  def stratifiedSample(docs: DataFrame, stratum: Column,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 1.0): DataFrame = {
    require((defaultFraction :: fractions.values.toList).forall(f => f >= 0.0 && f <= 1.0),
      "sampling fractions must lie in [0, 1]")
    val thr = fractions.foldLeft(lit(math.round(defaultFraction * mixResolution))) {
      case (acc, (k, f)) =>
        when(stratum === k, lit(math.round(f * mixResolution))).otherwise(acc)
    }
    docs.filter(mixDraw < thr)
  }

  /** Weighted sampling WITHOUT replacement, exact k per stratum —
    * Efraimidis–Spirakis priority sampling made DETERMINISTIC: each doc
    * draws a md5-salted uniform u ∈ (0,1) and competes with key
    * ln(u)/w (the order-equivalent log form of the classic u^(1/w)); the
    * k LARGEST keys per stratum are the sample, giving
    * inclusion-probability ∝ weight without replacement — the sampler a
    * mixing pipeline needs when "sample 10k docs per source,
    * length-weighted" must be reproducible across runs and engines
    * (weights > 0; larger weight ⇒ key nearer 0 ⇒ higher priority).
    *
    * Selection uses the shared `graft_top_k` cut — bounded per-group
    * state, never a per-stratum window — and keys round to 6
    * decimals with a doc_id tiebreak, so the ~1-ulp liberty libm pow/ln
    * implementations have cannot flip a rank across engines (the
    * x11-x13 discipline). Output: stratum, doc_id, priority. */
  def weightedSample(docs: DataFrame, stratum: Column, weight: Column,
                     k: Int, salt: String = "#ws"): DataFrame = {
    val m = 1L << 30
    val u = (md5Mod(concat(col("doc_id").cast("string"), lit(salt)), lit(m)) + 1L)
      .cast("double") / lit((m + 1L).toDouble)
    val scored = docs.select(stratum.as("q_id"), col("doc_id").as("n_id"),
      round(log(u) / weight.cast("double"), 6).as("sim"))
    Similarity.topKPerQuery(scored, k)
      .select(col("q_id").as("stratum"), col("n_id").as("doc_id"),
        col("sim").as("priority"))
  }

  /** Per-stratum quota cap — [[stratifiedSample]]'s absolute-count twin
    * ("cap each source at N documents"): keep the `cap` documents with the
    * smallest salted-md5 draws per stratum, deterministic and exactly
    * equal to a global ROW_NUMBER-per-stratum selection.
    *
    * Scale shape: a naive `Window.partitionBy(stratum)` serializes each
    * stratum into ONE task — strata are few and huge, the worst window
    * skew case. Instead: (1) one tiny aggregate counts each stratum;
    * (2) a NARROW hash-threshold prefilter keeps draws below
    * ceil(safety · cap/count · resolution) — because the filter keeps a
    * PREFIX of the per-stratum draw ordering, the true top-cap set is a
    * subset of the survivors whenever at least min(cap, count) survive;
    * (3) strata where the prefix undershot (possible only when the draw
    * distribution is pathologically top-heavy) fall back to their full
    * row set via LAZY broadcast anti/semi joins on the (tiny) shortfall
    * frame — so the result is ALWAYS exact, the safety factor only tunes
    * how rarely the fallback pays; (4) the exact row_number window runs
    * over ~safety·cap rows per stratum, not the corpus.
    *
    * The whole operator is ONE lazy plan — no construction-time jobs, and
    * every consumer (threshold, shortfall, candidates) reads the same
    * source snapshot at action time, so a source that changes between
    * construction and action cannot desynchronize the fallback decision
    * from the data it guards. The price is re-scanning the narrow staged
    * projection a few times within the one action (the broadcast
    * threshold subplan is exchange-reused); cutting it would mean
    * materializing the corpus. Null strata take `defaultCap` and
    * null-safe joins carry their fallback. */
  def quotaSample(docs: DataFrame, stratum: Column,
                  caps: Map[String, Long], defaultCap: Long = Long.MaxValue,
                  safety: Double = 2.0): DataFrame = {
    require(caps.values.forall(_ >= 0L) && defaultCap >= 0L, "caps must be >= 0")
    require(safety >= 1.0, "safety must be >= 1 (it scales the exact-prefix margin)")
    val capExpr = caps.foldLeft(lit(defaultCap)) {
      case (acc, (k, c)) => when(stratum === k, lit(c)).otherwise(acc)
    }
    val staged = docs
      .withColumn("__st", stratum).withColumn("__cap", capExpr)
      .withColumn("__draw", mixDraw)
    val thr = staged.groupBy(col("__st")).agg(
        count(lit(1)).as("__n"), first(col("__cap")).as("__c"))
      .select(col("__st").as("__tst"), col("__n"), col("__c"),
        when(col("__c") >= col("__n"), lit(mixResolution))
          .otherwise(least(lit(mixResolution),
            ceil(lit(safety * mixResolution) * col("__c") / col("__n")).cast("long")))
          .as("__thr"))
    val pre = staged.join(broadcast(thr),
        staged("__st") <=> col("__tst")).filter(col("__draw") < col("__thr"))
    // exactness check: a stratum's survivors must cover min(cap, count)
    // rows or its prefix missed part of the true top-cap set
    // the survivor-count frame is one row per stratum — broadcast-small
    // by the bounded-strata contract, like thr itself
    val shortF = thr.join(
        broadcast(pre.groupBy(col("__st").as("__gst")).agg(count(lit(1)).as("__got"))),
        col("__tst") <=> col("__gst"), "left_outer")
      .filter(coalesce(col("__got"), lit(0L)) < least(col("__c"), col("__n")))
      .select(col("__tst").as("__short"))
    val stagedCols = staged.columns.map(col).toSeq
    val candidates = pre.select(stagedCols: _*)
      .join(broadcast(shortF), col("__st") <=> col("__short"), "left_anti")
      .unionByName(staged
        .join(broadcast(shortF), col("__st") <=> col("__short"), "left_semi"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__st")).orderBy(col("__draw"), col("doc_id"))
    candidates
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__cap"))
      .drop("__st", "__cap", "__draw", "__rn")
  }

  /** Sequence packing for pretraining: assign documents to fixed
    * token-budget bins (context windows). Deterministic and distributed:
    * docs shard by md5(doc_id) mod `shards` (content- and
    * corpus-size-independent, like [[deterministicSplit]]), and within a
    * shard are packed in doc_id order by EXCLUSIVE running token total —
    * bin = floor(prefix_sum / budget). A doc longer than the budget
    * spans past a bin boundary: the docs BEFORE it in the bin still fit
    * one budget span, but the oversize doc itself overflows the bin (and
    * may share it with those predecessors) — callers wanting strict
    * per-bin caps must length-filter or truncate upstream. Every doc
    * costs AT LEAST one budget token (its separator/EOS): without the
    * floor, zero-token docs would never advance the prefix and could
    * pile into one bin without bound — the memory hazard for
    * [[assembleBins]]'s collect_list (n_tokens still reports the true
    * count).
    *
    * Scale shape: ONE window per shard partition (never a global
    * ordering — a corpus-wide running sum would serialize into a single
    * task); shard count sizes the parallelism and bounds the per-task
    * row count at |corpus|/shards. Greedy-order packing wastes at most
    * one doc's tokens per bin boundary vs bin-optimal — the standard
    * trade for a single-pass distributed pack.
    * Output: doc_id, shard, bin, n_tokens. */
  def packSequences(docs: DataFrame, budgetTokens: Long,
                    shards: Int = 1024): DataFrame =
    packAssign(docs, budgetTokens, shards)
      .select(col("doc_id"), col("shard"), col("bin"), col("n_tokens"))

  /** The packing assignment with document text retained — ONE definition
    * of the bin rule, shared by [[packSequences]] (assignment view) and
    * [[assembleBins]] (assembled view), so the two cannot drift. Catalyst
    * prunes `text` out of the window shuffle when the caller drops it. */
  private def packAssign(docs: DataFrame, budgetTokens: Long, shards: Int): DataFrame =
    packAssignOn(docs.select(col("doc_id"), col("text"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      md5Mod(col("doc_id"), lit(shards.toLong)).as("shard")), budgetTokens)

  /** The bin rule against a caller-staged (doc_id, text, n_tokens,
    * shard) frame — ONE definition shared by the hash-sharded
    * [[packAssign]] and the cluster-sharded [[packBySimilarity]]. */
  private def packAssignOn(staged: DataFrame, budgetTokens: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    staged
      // cost floor: a zero-token doc still occupies one budget token
      // (see packSequences' scaladoc — this is what bounds bin size)
      .withColumn("__prefix",
        coalesce(sum(greatest(col("n_tokens"), lit(1L))).over(w), lit(0L)))
      // integer DIV, not floor(double /): a prefix past 2^53 would lose
      // integer precision in double and could round across a bin
      // boundary, diverging from the oracle's exact `//`
      .select(col("doc_id"), col("text"), col("shard"),
        expr(s"__prefix DIV $budgetTokens").cast("long").as("bin"),
        col("n_tokens"))
  }

  /** In-context semantic packing (the ICLM idea — Shi et al. 2023,
    * "In-Context Pretraining"): pack SAME-CLUSTER documents into the
    * same training bins, so each context window carries topically
    * related text instead of a random hash-shard mix — measurably
    * better long-context pretraining at zero extra token cost. The
    * cluster comes from the broadcast-codebook IVF assignment on the
    * documents' embeddings; the bin rule is [[packSequences]]' exact
    * window arithmetic with the cluster as the shard key.
    *
    * Skew lever: a degenerate cluster would make one giant window
    * partition, so `subShards > 1` splits every cluster md5-wise
    * (shard = cluster·subShards + md5Mod(doc_id, subShards)) — bounded
    * partitions at the cost of some cross-sub-shard adjacency, the
    * same trade [[Dedup]]'s maxClusterSize blocking makes. Default 1
    * keeps whole-cluster adjacency (fine while max cluster size ≪ a
    * worker's window budget; the fixture codebook guarantees it).
    * Output: doc_id, cluster, bin, n_tokens. */
  def packBySimilarity(docs: DataFrame, emb: DataFrame, centroidPred: Column,
                       budgetTokens: Long, subShards: Int = 1): DataFrame = {
    require(subShards >= 1, "need at least one sub-shard")
    val assign = graft.operators.Similarity.ivfAssign(emb, centroidPred)
      .select(col("vec_id").as("doc_id"), col("cluster"))
    val staged = docs.join(assign, "doc_id")
      .select(col("doc_id"), col("text"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        (col("cluster") * lit(subShards.toLong) +
          md5Mod(col("doc_id"), lit(subShards.toLong))).as("shard"))
    packAssignOn(staged, budgetTokens)
      // the composite shard encodes its cluster — recover arithmetically
      // instead of re-joining (clusters and md5Mod are both >= 0)
      .select(col("doc_id"),
        expr(s"shard DIV $subShards").cast("long").as("cluster"),
        col("bin"), col("n_tokens"))
  }

  /** Assemble packed bins into training sequences: each (shard, bin)
    * group becomes ONE row — its documents concatenated in doc_id order
    * with `sep` — plus the document count and token total, the row shape
    * a tokenize-and-train stage consumes. Rides [[packAssign]]'s window
    * partitioning: the groupBy keys (shard, bin) are determined by shard,
    * so the aggregate reuses the window's exchange — ONE shuffle total.
    * collect_list memory is bounded by construction: every doc costs at
    * least one budget token (packAssign's cost floor), so a bin holds at
    * most budgetTokens documents and ~budgetTokens tokens — one context
    * window — before its final overflowing doc.
    * Output: shard, bin, n_docs, bin_tokens, text. */
  def assembleBins(docs: DataFrame, budgetTokens: Long, shards: Int = 1024,
                   sep: String = "\n\n"): DataFrame =
    packAssign(docs, budgetTokens, shards)
      .groupBy(col("shard"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          s => s.getField("text")), sep).as("text"))

  /** BM25 lexical retrieval — the inverted-index keyword ranking every
    * retrieval/dedup stack pairs with embedding ANN (the hybrid-search
    * lexical arm, and the "find documents about X to upsample/remove"
    * curation primitive). Scores every document containing at least one
    * query term with Robertson/Okapi BM25:
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the Lucene form,
    * always positive so stopword-ish query terms cannot SUBTRACT.
    *
    * Scale shape — the whole point vs a naive "LIKE scan": tokens explode
    * once but the `isin(queryTerms)` filter is INSIDE the explode
    * projection, so only query-term postings (a |terms|-bounded sliver of
    * the corpus) ever shuffle; doc lengths are a narrow per-row size();
    * N and avglen are one scalar aggregate broadcast back; df is a
    * |queryTerms|-row aggregate, broadcast. Nothing corpus-sized crosses
    * the wire and the posting shuffle is the standard inverted-index
    * build, arbitrarily partitionable. Top-k would be TakeOrdered — left
    * to the caller, who may want the full scored set.
    *
    * Float discipline (the x37 family): per-(doc, term) contributions are
    * one double expression over exact integer counts (and the 4-decimal-
    * rounded avglen), rounded to 6 decimals and summed as exact
    * DECIMAL(18,6); the final score rounds to 4. k1/b default to the
    * textbook 1.2/0.75 — both printed into the oracle SQL from these
    * values, never re-typed. Output: doc_id, n_terms_hit, score. */
  def bm25Scores(docs: DataFrame, queryTerms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val terms = queryTerms.distinct
    val staged = docs.select(col("doc_id"), tokens(col("text")).as("__ts"))
      .select(col("doc_id"), col("__ts"), size(col("__ts")).cast("long").as("len"))
    // corpus scalars: N over ALL docs; avglen = exact long sum / count —
    // ONE double division (an avg over doubles would be partial-
    // aggregation-order-dependent in the last ulp), rounded so both
    // engines divide by the identical double
    val stats = staged.agg(
      count(lit(1)).cast("double").as("n_docs"),
      detRound(sum(col("len")).cast("double") / count(lit(1)), 4).as("avglen"))
    // postings: only query-term occurrences survive the explode projection
    val tf = staged
      .select(col("doc_id"), col("len"), explode(col("__ts")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      // max, not first: len is constant per doc, but max is deterministic
      // by type, not by argument (nothing for a reviewer to prove)
      .agg(max(col("len")).as("len"), count(lit(1)).cast("double").as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    // 1−b folded ONCE here and printed into the oracle (the bigramLogProb
    // constant discipline: re-typing 0.25 would be a different double
    // only if b weren't exactly representable — folding once is safe
    // under every parameterization)
    val norm = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("len").cast("double") / col("avglen"))
    val contrib = tf
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(idf * col("tf") * lit(k1 + 1.0) / norm, 6)
          .cast("decimal(18,6)").as("__c"))
    contrib.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        // round the EXACT decimal, cast after: a sum like 0.266350 cast
        // to double first becomes 0.26634999…, and the two engines then
        // disagree at the half boundary (Spark rounds the shortest repr,
        // DuckDB the binary value — bit this at sf0.1)
        round(sum(col("__c")), 4).cast("double").as("score"))
  }

  /** Unigram language-model scoring (the CCNet-style curation signal:
    * rank documents by how "corpus-typical" their vocabulary is —
    * gibberish, boilerplate, and wrong-language text score low): each
    * document's average log-probability of its tokens under the corpus's
    * own unigram distribution. Output: doc_id, n_tokens, avg_logp
    * (<= ~-ln(2) .. -ln(|vocab|·skew); higher = more typical).
    *
    * Float discipline (the oracle must hash-match): a plain SUM/AVG of
    * doubles is partial-aggregation-ORDER-dependent in the last ulps, and
    * the two engines aggregate in different orders. So each token's
    * log-prob is rounded to 6 decimals PER ROW (deterministic — same
    * double, same round, both engines) and summed as DECIMAL(18,6) —
    * decimal addition is exact and therefore order-independent — before
    * the final per-doc division and 4-decimal round. Same trick family
    * as the sequential-fold cosine (x11-x13), solved with decimals
    * instead of fold order because aggregation here is distributive.
    *
    * Scale shape: one (term) count aggregate with map-side partials (hot
    * terms absorb in the combine, cf. [[vocabulary]]), the scalar total
    * broadcast as a 1-row frame, one shuffle join of postings to counts,
    * one (doc_id) aggregate. Self-scoring by construction; to score a
    * candidate corpus against a REFERENCE LM, pass the reference's
    * counts/total instead of deriving them — the plan shape is
    * unchanged. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    // the token frame feeds the vocabulary count AND the probe join:
    // materialize once (narrow (doc_id, term) rows) or the corpus
    // explode runs per consumer; the grand total is |tok| directly —
    // summing per-term counts re-derived the same number through an
    // extra aggregate over a recomputed vocabulary
    val tok = graft.Persist.cut(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("term")))
    val counts = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = tok.agg(count(lit(1)).cast("double").as("tot"))
    tok.join(counts, "term").crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(log(col("cnt").cast("double") / col("tot")), 6)
          .cast("decimal(18,6)").as("__lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        // detRound, not ROUND: Σ(decimal)/n lands on exact 4-decimal
        // halves (sf1.0: -91.833750/27 = -3.401250 exactly) where the
        // engines' ROUNDs disagree — see NumericFunctions
        NumericFunctions.detRound(
          sum(col("__lp")).cast("double") / count(lit(1)), 4).as("avg_logp"))
  }

  /** Interpolated bigram language-model scoring — the KenLM-style
    * fluency/quality filter one step up from [[unigramLogProb]]: each
    * token is scored by λ·P(w|prev) + (1−λ)·P(w), so word-order breakage
    * (shuffled text, keyword stuffing, boilerplate splices) drops the
    * score even when the unigram mass looks corpus-typical. A document's
    * FIRST token has no history and backs off to its unigram probability
    * entirely.
    *
    * Float discipline (cf. [[unigramLogProb]]): every probability is one
    * double expression over exact integer counts; λ and (1−λ) are
    * embedded as the SAME double constants on both engines (1−λ is
    * computed ONCE in Scala and printed into the oracle SQL — writing
    * literal `0.2` there would be a DIFFERENT double than 1.0−0.8 and
    * drift the 6th decimal); per-token log-probs round to 6 decimals,
    * sum as exact DECIMAL(18,6), then the per-doc average rounds to 4.
    *
    * Scale shape: the (prev, term) derivation is NARROW — the token
    * array is staged once and the previous token read by position from
    * the array during the posexplode projection, never a LAG window over
    * a corpus-wide token table. Then: one bigram-count aggregate (map-
    * side partials absorb hot bigrams), one unigram-count aggregate, the
    * scalar total broadcast, and postings→counts joins that ship counts,
    * not text, re-keyed per join. Self-scoring by construction; score
    * against a REFERENCE LM by passing its count tables instead. */
  def bigramLogProb(docs: DataFrame, lambda: Double = 0.8): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, "lambda must interpolate strictly between bigram and unigram")
    val lambdaC = 1.0 - lambda
    // (doc_id, term, prev) feeds THREE consumers (unigram counts, bigram
    // counts, the probe join): materialize the narrow rows once — the
    // carried __ts array is projected away before the cut. The unigram
    // table is itself read twice (term join + prev join): cut it too so
    // the vocabulary aggregate runs once. The grand total is |tok|.
    val tok = graft.Persist.cut(
      docs.select(col("doc_id"), tokens(col("text")).as("__ts"))
        .select(col("doc_id"), posexplode(col("__ts")), col("__ts"))
        // posexplode pos is 0-based, element_at 1-based: element_at(ts, pos)
        // IS the previous token; pos 0 (no history) stays null
        .select(col("doc_id"), col("col").as("term"),
          when(col("pos") >= 1, element_at(col("__ts"), col("pos"))).as("prev")))
    val uni = graft.Persist.cut(
      tok.groupBy(col("term")).agg(count(lit(1)).as("cu")))
    val big = tok.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("term")).agg(count(lit(1)).as("cb"))
    val total = tok.agg(count(lit(1)).cast("double").as("tot"))
    val puni = col("cu").cast("double") / col("tot")
    val pbig = coalesce(col("cb"), lit(0L)).cast("double") / col("cp").cast("double")
    tok
      .join(uni, "term")
      .join(uni.select(col("term").as("prev"), col("cu").as("cp")), Seq("prev"), "left_outer")
      .join(big, Seq("prev", "term"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(log(when(col("prev").isNull, puni)
          .otherwise(lit(lambda) * pbig + lit(lambdaC) * puni)), 6)
          .cast("decimal(18,6)").as("__lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        // detRound: same exact-half knife edge as unigramLogProb
        NumericFunctions.detRound(
          sum(col("__lp")).cast("double") / count(lit(1)), 4).as("avg_logp"))
  }

  /** Top-k adjacent-pair PMI (pointwise mutual information) — the
    * collocation/keyness read over a corpus ("strongly associated word
    * pairs"), the analysis companion to [[bigramLogProb]]'s scoring:
    * PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) with P(a,b) over adjacent
    * positions and P(·) over tokens. Pairs below `minCount` occurrences
    * are dropped first — PMI famously explodes on hapax pairs, and the
    * floor is also what keeps the ranked output statistically meaningful.
    *
    * Exactness: every probability is a ratio of exact integer counts;
    * the PMI is ONE double expression over them, rounded to 4 decimals,
    * and the top-k selection orders on (rounded pmi desc, prev, term) —
    * fully deterministic cross-engine. Plan shape: the narrow positional
    * prev derivation (no corpus-wide LAG — see [[bigramLogProb]]), two
    * count aggregates with map-side partials, scalar totals broadcast,
    * and TakeOrderedAndProject for the cut — never a global sort.
    * Output: prev, term, n (pair count), pmi. */
  def pmiTopPairs(docs: DataFrame, minCount: Int = 5, k: Int = 50): DataFrame = {
    require(minCount >= 1 && k >= 1, "minCount and k must be positive")
    // same three-consumer shape as bigramLogProb: one cut of the narrow
    // (term, prev) rows + one cut of the twice-joined unigram table
    val tok = graft.Persist.cut(
      docs.select(col("doc_id"), tokens(col("text")).as("__ts"))
        .select(posexplode(col("__ts")), col("__ts"))
        .select(col("col").as("term"),
          when(col("pos") >= 1, element_at(col("__ts"), col("pos"))).as("prev")))
    val uni = graft.Persist.cut(
      tok.groupBy(col("term")).agg(count(lit(1)).as("cu")))
    val big = tok.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("term")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val totals = tok.agg(count(lit(1)).cast("double").as("t"),
      count(col("prev")).cast("double").as("tb"))
    big
      .join(uni.select(col("term").as("prev"), col("cu").as("cp")), "prev")
      .join(uni, "term")
      .crossJoin(broadcast(totals))
      .select(col("prev"), col("term"), col("n"),
        round(log((col("n").cast("double") / col("tb")) /
          ((col("cp").cast("double") / col("t")) *
            (col("cu").cast("double") / col("t")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("prev"), col("term")).limit(k)
  }

  /** Overlapping token-window chunking — the context-window prep step
    * between curation and tokenization: each document becomes the chunks
    * covering token offsets 0, stride, 2·stride, … (every start < the
    * token count), each `chunkTokens` wide (the final chunks clamp at the
    * document's end). stride < chunkTokens yields the standard overlap
    * that keeps boundary-spanning content intact in at least one chunk.
    *
    * Entirely narrow — one staged token array, one posexplode over the
    * start offsets, array slices; no shuffle, row amplification bounded
    * at ceil(n_tokens/stride) per doc. Deterministic: chunk identity is
    * a pure function of (doc_id, token sequence), so re-runs and the
    * oracle reproduce the same chunks. Docs with zero tokens emit
    * nothing. Output: doc_id, chunk_idx, chunk_tokens, chunk_text. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens >= 1 && strideTokens >= 1, "chunk and stride must be >= 1")
    require(strideTokens <= chunkTokens,
      "stride > chunk would skip tokens between consecutive chunks")
    // tokens staged before the HOFs (the interpreted-lambda re-split
    // hazard, see langId), and starts generated BEFORE the explode so the
    // slice runs once per chunk row
    docs.select(col("doc_id"), tokens(col("text")).as("__ts"))
      .filter(size(col("__ts")) > 0)
      .select(col("doc_id"), col("__ts"),
        posexplode(sequence(lit(0), size(col("__ts")) - 1, lit(strideTokens))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        least(lit(chunkTokens), size(col("__ts")) - col("col")).cast("long")
          .as("chunk_tokens"),
        array_join(slice(col("__ts"), col("col") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Salt for [[upsampleStrata]]'s fractional-copy draw — decorrelated
    * from both the split bucket and the mix draw (same reasoning as
    * [[mixSalt]]: a shared draw would make "the upsampled extra copies"
    * exactly "the docs stratifiedSample keeps", coupling decisions that
    * must be independent). */
  val epochSalt = "#epoch"
  private def epochDraw: Column =
    md5Mod(concat(col("doc_id").cast("string"), lit(epochSalt)), lit(mixResolution))

  /** Deterministic per-stratum UPsampling — the epoch-weighting step of a
    * pretraining mix ("see wikipedia 2.5 epochs, common-crawl 0.8"):
    * every document receives floor(weight) copies plus one more iff its
    * salted draw < frac(weight)·resolution, so a stratum's expected
    * token mass scales by exactly its weight while every decision stays
    * a pure function of doc_id — reproducible mixes, cross-engine
    * replayable, and weights < 1 degrade gracefully into sampling
    * (floor = 0 + fractional keep), making this the general epoch-weight
    * operator with [[stratifiedSample]] the fast path for the all-≤1
    * case. Narrow: one filter + one bounded explode (ceil(weight)
    * copies max), no shuffle. Strata absent from `weights` take
    * `defaultWeight`. Output: input columns + copy_id (1-based). */
  def upsampleStrata(docs: DataFrame, stratum: Column,
                     weights: Seq[(String, Double)],
                     defaultWeight: Double = 1.0): DataFrame = {
    require((defaultWeight +: weights.map(_._2)).forall(_ >= 0.0),
      "epoch weights must be >= 0")
    def baseCopies(w: Double): Long = math.floor(w).toLong
    def fracThr(w: Double): Long = math.round((w - math.floor(w)) * mixResolution)
    val base = weights.foldLeft(lit(baseCopies(defaultWeight))) {
      case (acc, (k, w)) => when(stratum === k, lit(baseCopies(w))).otherwise(acc)
    }
    val thr = weights.foldLeft(lit(fracThr(defaultWeight))) {
      case (acc, (k, w)) => when(stratum === k, lit(fracThr(w))).otherwise(acc)
    }
    docs
      .withColumn("__copies", base + when(epochDraw < thr, lit(1L)).otherwise(lit(0L)))
      // guard BEFORE the sequence: sequence(1, 0) is a descending range
      // in Spark, not an empty one
      .filter(col("__copies") >= 1L)
      .withColumn("copy_id", explode(sequence(lit(1L), col("__copies"))))
      .drop("__copies")
  }

  /** Global term vocabulary: corpus-wide token counts, top `topV` by
    * (count desc, term asc) — a deterministic tie-break, so the cut line
    * is reproducible — the input to tokenizer/vocabulary training. Plan
    * shape: explode → partial count per partition (map-side combine
    * absorbs hot terms) → one shuffle on term → TakeOrderedAndProject,
    * never a global sort of the full term table.
    * Output: term, n. */
  def vocabulary(docs: DataFrame, topV: Int = 30000): DataFrame =
    docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(topV)

  /** Vocabulary COVERAGE per source — the OOV exposure report for a
    * fixed top-V vocabulary ([[vocabulary]]'s cut): what fraction of
    * each source's token INSTANCES, and how many of its distinct types,
    * fall outside the vocabulary the tokenizer/encoder was sized to.
    * x116 measures how finely the trained tokenizer splits what it
    * covers; this measures what a word-level cut would MISS — the
    * report that decides whether topV is big enough for a new source
    * (code and non-Latin feeds typically spike it) before x55's
    * encoding maps everything OOV to one id and the damage goes
    * invisible.
    *
    * Scale shape: corpus collapses to (source, term) counts first
    * (map-side partials absorb hot terms); the vocab side is topV rows
    * BY CONSTRUCTION and broadcasts; per-source rollup state is four
    * longs. Output: source, n_tokens, oov_tokens, oov_rate (ROUND 6),
    * n_types, oov_types. */
  def vocabCoverage(docs: DataFrame, topV: Int = 30000): DataFrame = {
    val v = vocabulary(docs, topV).select(col("term"), lit(1L).as("__in"))
    docs.select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .join(broadcast(v), Seq("term"), "left_outer")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("__in").isNull, col("c")).otherwise(0L)).as("oov_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov_types"))
      .select(col("source"), col("n_tokens"), col("oov_tokens"),
        detRound(col("oov_tokens").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"),
        col("n_types"), col("oov_types"))
  }

  /** Byte-pair-encoding merge training — the first `merges` rules of a
    * BPE tokenizer learned from the corpus, the step between
    * [[vocabulary]] and [[encodeTokens]] in a tokenizer-training
    * pipeline. Classic word-frequency formulation (Sennrich et al.,
    * ACL 2016): the corpus collapses to a (word, count) table ONCE —
    * vocab-bounded, the only corpus-sized shuffle — and every merge
    * round runs over symbol sequences of DISTINCT words weighted by
    * their counts, so per-round cost scales with the vocabulary, never
    * the corpus. The round's argmax is a TakeOrdered(1) on
    * (count DESC, lhs, rhs) — deterministic total order, no global
    * sort — broadcast back as a 1-row frame (zero driver round-trips,
    * like [[Relational.quantileBuckets]]' threshold frame).
    *
    * The merge pass itself is a left-to-right greedy fold over each
    * word's symbol array (Spark `aggregate` HOF): append, or fuse with
    * the accumulator's tail when it matches (lhs, rhs). A fused symbol
    * lhs||rhs can never re-match lhs in the same pass (rhs nonempty),
    * so the fold IS the textbook non-overlapping greedy scan; the
    * oracle replays it position-wise (match flags → odd-offset
    * acceptance within runs — equivalent because matches at adjacent
    * positions force lhs = rhs), and a property test pins the two
    * formulations to each other. All-integer outputs — no float
    * discipline needed anywhere.
    * Output: merge_rank (1-based), lhs, rhs, cnt (pair frequency at
    * merge time). Fewer than `merges` rows when the corpus runs dry.
    *
    * `batch` (default 1 = the exact loop above — the x91/x96 oracle
    * path) is the JOB-COUNT lever for real vocabularies: the exact loop
    * is one full-vocabulary Spark round per merge, so a 32k-merge train
    * is 32k sequential jobs regardless of corpus size. With `batch = m`
    * each round selects the top-m candidates that are mutually
    * NON-INTERACTING — no symbol of one rule appears in, or equals the
    * fused output of, another — and applies them in ONE fold pass, so
    * the round count (and job count) drops to ceil(merges/m): the
    * standard scalable-BPE trade. Within a round the selected rules
    * cannot see each other (disjointness is checked against lhs, rhs,
    * AND lhs||rhs), so one combined pass equals applying each rule's own
    * greedy pass in rank order; ACROSS the batch the counts rules 2..m
    * were ranked by are the round-start counts, not the post-rule-1
    * counts — on corpora whose top pair frequencies are well separated
    * (natural text) the chain agrees with the exact loop
    * (spec-asserted on the fixture corpus); adversarial ties can
    * reorder. */
  def bpeMerges(docs: DataFrame, merges: Int = 5, batch: Int = 1): DataFrame =
    bpeLoop(docs, merges, batch)._1.orderBy("merge_rank")

  /** Apply the SAME training loop's merge chain and return the encoded
    * vocabulary — the tokenizer-apply step that closes the train→encode
    * loop: each distinct corpus word with its final symbol pieces after
    * all `merges` rules ran in rank order. A corpus encode is then a
    * broadcast word→pieces join against the token stream (words are
    * vocab-bounded); emitting the vocabulary table rather than re-keying
    * the corpus keeps this operator the reusable artifact a pipeline
    * persists next to the merge rules.
    * Output: w, cnt, n_pieces, pieces (space-joined — symbols never
    * contain spaces because words come from the whitespace tokenizer).
    * If the corpus dries out before `merges` rounds (no pair left to
    * merge) the loop stops and the LAST symbol table is returned — the
    * vocabulary is never emptied by an empty argmax. `batch` as in
    * [[bpeMerges]] (default 1 = exact). */
  def bpeEncode(docs: DataFrame, merges: Int = 5, batch: Int = 1): DataFrame =
    bpeLoop(docs, merges, batch)._2.select(col("w"), col("cnt"),
      size(col("syms")).cast("long").as("n_pieces"),
      array_join(col("syms"), " ").as("pieces"))

  /** Shared train loop behind [[bpeMerges]]/[[bpeEncode]]: returns (the
    * merge-rule table, the final per-word symbol sequences). The word
    * column rides through every round — vocab-bounded, so the per-round
    * checkpoint stays small — which is what lets encode fall out of
    * training for free. */
  private def bpeLoop(docs: DataFrame, merges: Int,
                      batch: Int = 1): (DataFrame, DataFrame) = {
    require(merges >= 1, "need at least one merge round")
    require(batch >= 1, "batch must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    var seqs = graft.Persist.cut(words.select(col("w"),
      filter(split(col("w"), ""), s => s =!= "").as("syms"), col("cnt")))
    // the argmax is a 1-row driver probe (the mergeQualityModelBatch
    // scalar convention): it BOTH supplies the rule as a literal (no
    // per-round recompute of the TakeOrdered when the rule table is
    // re-evaluated downstream) AND detects a dried-out corpus — without
    // the probe an empty argmax crossJoined into seqs would silently
    // empty the entire vocabulary. In batched mode the probe widens to a
    // bounded top-(4m+8) window — still ONE TakeOrdered job per ROUND —
    // and the non-interacting subset is picked driver-side from those
    // <= 4m+8 rows.
    val ranks = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= merges && !dry) {
      val m = math.min(batch, merges - r + 1)
      val prs = seqs.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS l, syms[i+1] AS r))")).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum(col("cnt")).as("cnt"))
      if (m == 1) {
        // exact path — byte-for-byte the pre-batch loop (the x91/x96
        // oracle replays THIS chain)
        val best = prs.orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1).collect()
        if (best.isEmpty) dry = true // corpus dried out — keep current seqs
        else {
          val b = best(0)
          val (lhs, rhs, cnt) = (b.getString(0), b.getString(1), b.getLong(2))
          ranks += ((r.toLong, lhs, rhs, cnt))
          val rule = broadcast(Seq((lhs, rhs)).toDF("__ma", "__mb"))
          seqs = graft.Persist.cut(seqs.crossJoin(rule)
            .select(col("w"), expr(bpeMergeFold).as("syms"), col("cnt")))
          r += 1
        }
      } else {
        val window = prs.orderBy(col("cnt").desc, col("lhs"), col("rhs"))
          .limit(4 * m + 8).collect()
        if (window.isEmpty) dry = true
        else {
          // greedy non-interacting selection in rank order: a candidate
          // is admitted only if its lhs, rhs AND fused output are all
          // unseen among every prior admit's three strings — so no rule
          // can consume or produce another's symbols and one combined
          // fold pass == the rules' own passes in rank order
          val used = scala.collection.mutable.Set.empty[String]
          val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
          val it = window.iterator
          while (sel.size < m && it.hasNext) {
            val b = it.next()
            val (l, rh, c) = (b.getString(0), b.getString(1), b.getLong(2))
            val keys = Set(l, rh, l + rh)
            if (keys.forall(!used.contains(_))) { used ++= keys; sel += ((l, rh, c)) }
          }
          sel.foreach { case (l, rh, c) =>
            ranks += ((r.toLong, l, rh, c)); r += 1
          }
          // one fold pass over a broadcast "lhs rhs" -> "lhsrhs" map
          // (symbols never contain spaces: words come from the
          // whitespace tokenizer, so the space-joined key is unambiguous)
          val ruleMap = map(sel.toSeq.flatMap { case (l, rh, _) =>
            Seq(lit(l + " " + rh), lit(l + rh)) }: _*)
          seqs = graft.Persist.cut(seqs
            .withColumn("__rules", ruleMap)
            .select(col("w"), expr(bpeBatchFold).as("syms"), col("cnt")))
        }
      }
    }
    (ranks.toSeq.toDF("merge_rank", "lhs", "rhs", "cnt"), seqs)
  }

  /** One BPE merge pass as a fold over `syms` against the (__ma, __mb)
    * rule columns — factored out so the PropertiesSpec fuzz can pin it
    * to a driver-side greedy-scan reference independently of the
    * argmax loop around it. */
  private[operators] val bpeMergeFold: String =
    """aggregate(syms, CAST(array() AS array<string>),
      |  (acc, x) -> CASE
      |    WHEN size(acc) > 0 AND element_at(acc, -1) = __ma AND x = __mb
      |    THEN concat(slice(acc, 1, size(acc) - 1), array(concat(__ma, __mb)))
      |    ELSE concat(acc, array(x)) END)""".stripMargin

  /** The batched twin of [[bpeMergeFold]]: the same left-to-right greedy
    * scan, but the (tail, x) match consults the round's `__rules` map
    * ("lhs rhs" -> fused) instead of one (__ma, __mb) literal pair.
    * Because a round's rules are mutually non-interacting (see
    * [[bpeMerges]]), at most one rule can match at any position and a
    * fused output can never feed another rule in the same pass — so this
    * pass is order-independent within the batch. */
  private[operators] val bpeBatchFold: String =
    """aggregate(syms, CAST(array() AS array<string>),
      |  (acc, x) -> CASE
      |    WHEN size(acc) > 0 AND
      |      try_element_at(__rules, concat(element_at(acc, -1), ' ', x))
      |        IS NOT NULL
      |    THEN concat(slice(acc, 1, size(acc) - 1),
      |      array(try_element_at(__rules, concat(element_at(acc, -1), ' ', x))))
      |    ELSE concat(acc, array(x)) END)""".stripMargin

  /** Mixture-divergence report: actual per-stratum share of the corpus
    * vs a TARGET mixture (the mixing plan [[stratifiedSample]] /
    * [[upsampleStrata]] aim at), with each stratum's Kullback-Leibler
    * contribution `share·ln(share/target)` — the drift monitor a mixing
    * pipeline runs after every ingest. Positive terms are over-represented
    * strata; the sum over rows is KL(actual‖target).
    *
    * Scale: one count aggregate (map-side partials), a 1-row broadcast of
    * the corpus total, and a literal map lookup — |strata| output rows,
    * nothing corpus-sized past the aggregate. Determinism: share and
    * kl_term round to 6 decimals; the unrounded share feeds the ln (the
    * x37 ROUND(ln,6) cross-engine contract). Strata missing from `target`
    * yield a null kl_term — surfaced, never silently dropped.
    * Output: stratum, n, share, kl_term. */
  def mixReport(docs: DataFrame, stratum: Column,
                target: Map[String, Double]): DataFrame = {
    require(target.values.forall(_ > 0), "target shares must be positive")
    val counts = docs.groupBy(stratum.as("stratum")).agg(count(lit(1)).as("n"))
    val total = docs.agg(count(lit(1)).cast("double").as("__N"))
    val share = col("n") / col("__N")
    counts.crossJoin(broadcast(total))
      .withColumn("kl_term",
        round(share * log(share / element_at(typedLit(target), col("stratum"))), 6))
      // detRound on share (rational n/N); kl_term keeps engine round (ln)
      .withColumn("share", detRound(share, 6))
      .select(col("stratum"), col("n"), col("share"), col("kl_term"))
  }

  /** Temperature-scaled mixture weights — the share^α re-weighting that
    * flattens a natural source distribution before sampling (α=1 keeps
    * the natural mix, α→0 approaches uniform; web-scale corpora typically
    * train at α≈0.3-0.7 so giant crawl sources don't drown curated ones).
    * weight = share^α / Σ share^α; rate = weight/share is the per-stratum
    * sampling multiplier to feed [[stratifiedSample]]/[[upsampleStrata]].
    *
    * Float discipline: share^α rounds to 9 decimals into DECIMAL(18,9)
    * so the normalizer Σ is an EXACT, order-independent decimal sum (the
    * x37 contract — a double Σ would depend on partition order); the
    * final divisions are double (identical operands ⇒ identical results).
    * Scale: one corpus aggregate; everything after is |strata| rows.
    * Output: stratum, n, share, weight, rate (all rounds to 6). */
  def temperatureWeights(docs: DataFrame, stratum: Column,
                         alpha: Double): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val counts = docs.groupBy(stratum.as("stratum")).agg(count(lit(1)).as("n"))
    val total = docs.agg(count(lit(1)).cast("double").as("__N"))
    val share = col("n") / col("__N")
    val scaled = counts.crossJoin(broadcast(total))
      .withColumn("__pa", round(pow(share, lit(alpha)), 9).cast("decimal(18,9)"))
    val z = scaled.agg(sum(col("__pa")).as("__z"))
    scaled.crossJoin(broadcast(z))
      .withColumn("weight",
        detRound(col("__pa").cast("double") / col("__z").cast("double"), 6))
      .select(col("stratum"), col("n"), detRound(share, 6).as("share"),
        col("weight"),
        detRound(col("weight") / detRound(share, 6), 6).as("rate"))
  }

  /** Absolute token-budget allocation — the mixing PLAN in tokens (the
    * unit a training run is actually budgeted in), downstream of
    * [[mixReport]]'s share diagnosis and [[temperatureWeights]]' relative
    * re-weighting: each stratum is allotted `budget·target(stratum)`
    * tokens; `epochs` is allotment/available (how many passes over the
    * stratum the plan implies — the >1 region is where upsampling-driven
    * memorization risk lives), and `rate` caps it at 1 (the downsample-
    * only read to feed [[stratifiedSample]] when repeating data is off
    * the table). `planned_tokens` floors min(allotment, available) —
    * what rate-capped sampling can actually deliver; the gap between
    * Σ planned and `budget` is the shortfall the run must cover by
    * raising other strata or accepting repeats. Strata missing from
    * `target` surface with null plan columns, never silently dropped
    * (the mixReport contract).
    *
    * Scale: one token-sum aggregate with map-side partials; everything
    * after is |strata| rows of literal-map arithmetic. Determinism:
    * tokens is an exact BIGINT sum; the derived doubles are identical
    * expressions over identical operands on both engines, rounded to 6.
    * Output: stratum, tokens, target_share, rate, epochs, planned_tokens. */
  def tokenBudgetPlan(docs: DataFrame, stratum: Column, tokens: Column,
                      target: Map[String, Double], budget: Long): DataFrame = {
    require(budget > 0, "token budget must be positive")
    require(target.values.forall(_ > 0), "target shares must be positive")
    val avail = docs.groupBy(stratum.as("stratum"))
      .agg(sum(tokens).cast("long").as("tokens"))
    val tgt = element_at(typedLit(target), col("stratum"))
    val alloc = lit(budget.toDouble) * tgt
    // least() SKIPS nulls on both engines, so the cap must be gated on
    // the share explicitly or an unmapped stratum would silently plan
    // rate=1 / planned=tokens ("take everything") instead of null
    avail
      .withColumn("target_share", tgt)
      .withColumn("rate", when(tgt.isNotNull,
        detRound(least(lit(1.0), alloc / col("tokens").cast("double")), 6)))
      .withColumn("epochs", detRound(alloc / col("tokens").cast("double"), 6))
      .withColumn("planned_tokens", when(tgt.isNotNull,
        floor(least(alloc, col("tokens").cast("double"))).cast("long")))
      .select(col("stratum"), col("tokens"), col("target_share"),
        col("rate"), col("epochs"), col("planned_tokens"))
  }

  /** Data-constrained EPOCH planning — [[tokenBudgetPlan]] extended with
    * the diminishing-returns accounting of repeated data (Muennighoff et
    * al. 2023, "Scaling Data-Constrained Language Models"): when a
    * stratum's allocation exceeds its unique tokens U, the overflow is
    * served by repetition, and repeated tokens are worth less — the
    * fitted effective-data form D' = U·(1 + R*·(1 − e^(−R/R*))) with
    * R = epochs − 1 repetitions and R* ≈ 15.4 (the paper's half-life
    * constant, `rStar`). `effective_tokens` is what the allocation is
    * actually WORTH in fresh-data units; `efficiency` = effective /
    * allocated is the knob report — a stratum plan dropping below ~0.5
    * (≳ 16 epochs) is the paper's "stop repeating, go get data" signal.
    * Under-allocated strata (epochs ≤ 1) consume fresh tokens only:
    * effective = allocated exactly, efficiency 1 (the form is continuous
    * at epochs = 1).
    *
    * Scale shape: one stratum aggregate (map-side partials) + a
    * broadcast literal share map; every derived column is a narrow
    * projection. Unmapped strata surface null (the [[tokenBudgetPlan]]
    * gating — never a fabricated take-everything). exp() on doubles is
    * the x99/x100 sigmoid precedent. Output: stratum, tokens,
    * target_share, epochs (detRound 6), planned_tokens,
    * effective_tokens (detRound 2), efficiency (detRound 6). */
  def epochPlan(docs: DataFrame, stratum: Column, tokens: Column,
                target: Map[String, Double], budget: Long,
                rStar: Double = 15.4): DataFrame = {
    require(budget > 0, "token budget must be positive")
    require(rStar > 0, "rStar must be positive")
    val avail = docs.groupBy(stratum.as("stratum"))
      .agg(sum(tokens).cast("long").as("tokens"))
    val tgt = element_at(typedLit(target), col("stratum"))
    val alloc = lit(budget.toDouble) * tgt
    val u = col("tokens").cast("double")
    val reps = greatest(alloc / u - lit(1.0), lit(0.0))
    val effective = when(alloc <= u, alloc)
      .otherwise(u * (lit(1.0) +
        lit(rStar) * (lit(1.0) - exp(reps * lit(-1.0 / rStar)))))
    avail
      .withColumn("target_share", tgt)
      .withColumn("epochs", detRound(alloc / u, 6))
      .withColumn("planned_tokens",
        when(tgt.isNotNull, floor(alloc).cast("long")))
      .withColumn("effective_tokens",
        when(tgt.isNotNull, detRound(effective, 2)))
      .withColumn("efficiency",
        when(tgt.isNotNull, detRound(effective / alloc, 6)))
      .select(col("stratum"), col("tokens"), col("target_share"),
        col("epochs"), col("planned_tokens"), col("effective_tokens"),
        col("efficiency"))
  }

  /** Token-id encoding against the corpus [[vocabulary]] — the bridge
    * between vocabulary training and sequence assembly: every token maps
    * to its vocabulary id (1-based, ordered by count desc then term — the
    * same deterministic order the vocabulary cut uses), out-of-vocabulary
    * tokens to `oovId`, and each document emits its id sequence in token
    * order as a CSV string (the contract's no-array-columns discipline).
    *
    * Scale shape: the vocabulary is topV rows BY CONSTRUCTION, so the
    * id-assignment window (a single-partition row_number over topV rows)
    * and the broadcast of the id table are both bounded by the vocab
    * size, never the corpus; the token stream joins the broadcast ids
    * and re-aggregates per doc. Order inside the aggregate comes from
    * sorting the collected (pos, id) structs — collect_list alone has no
    * ordering guarantee. Per-doc state is the doc's own token count
    * (bounded-group discipline). Output: doc_id, n_tokens, ids_csv. */
  def encodeTokens(docs: DataFrame, topV: Int, oovId: Long = 0L): DataFrame = {
    val ids = vocabulary(docs, topV).withColumn("__id",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("term"))).cast("long"))
      .select(col("term"), col("__id"))
    val tok = docs.select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("term"))
    tok.join(broadcast(ids), Seq("term"), "left_outer")
      .select(col("doc_id"), col("pos"), coalesce(col("__id"), lit(oovId)).as("__id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("__id")))),
          s => s.getField("__id").cast("string")), ",").as("ids_csv"))
  }

  /** Top-k characteristic terms per document by TF-IDF (keyword
    * extraction for corpus curation): score = tf · ln(N/df), rounded to 4
    * decimals with a term tiebreak so ranking is cross-engine stable.
    *
    * Scale shape: one (doc_id, term) aggregate, one term aggregate, the
    * corpus size N broadcast as a 1-row frame, and a per-document
    * row_number window — per-doc DISTINCT terms are bounded (vocabulary ≪
    * document length), so the window partition never degenerates (the
    * bounded-group condition in Relational's scale notes).
    * Output: doc_id, term, tfidf. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // tf feeds the document-frequency aggregate AND the scoring join:
    // materialize once or the corpus explode + (doc, term) groupBy run
    // per consumer
    val tf = graft.Persist.cut(
      tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4).as("tfidf"))
    Relational.dedupeKeepFirst(scored, Seq(col("doc_id")),
      Seq(col("tfidf").desc, col("term")), keep = k)
  }

  /** Per-document token-distribution Shannon entropy (nats) — the
    * information-density quality signal orthogonal to
    * [[repetitionRatio]]: a doc can have few repeated n-GRAMS yet cycle a
    * tiny vocabulary (keyword stuffing, template fills), which collapses
    * entropy while rep_ratio stays moderate. H = ln(n) − (Σ c·ln c)/n
    * over per-doc term counts c — the log-identity form whose inner sum
    * is per-TERM, so the [[unigramLogProb]] float discipline applies:
    * each c·ln(c) term rounds to 6 decimals into DECIMAL(18,6), the sum
    * is exact and order-independent, and one double expression finishes
    * (round 4). Docs with zero tokens emit nothing.
    *
    * Scale: one (doc_id, term) count aggregate and one per-doc aggregate
    * — both map-side-partial friendly, nothing shuffles text beyond the
    * term postings. Output: doc_id, n_tokens, distinct_tokens, entropy. */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        NumericFunctions.entropyTermSum(col("c")).as("__s"))
      .select(col("doc_id"), col("n_tokens"), col("distinct_tokens"),
        NumericFunctions.entropyFromSum(col("n_tokens"), col("__s")).as("entropy"))

  /** Curation funnel report — the per-source "why did we drop what we
    * dropped" breakdown every corpus-curation dashboard leads with. Each
    * document is attributed to its FIRST failing gate in pipeline order
    * (exact_dup → near_dup → lang → low_quality → kept), matching how the
    * x18 gate actually filters, so the counts add up to the corpus and a
    * source's quality story is read in one table (a mirror site shows up
    * as exact_dup-heavy, a scraper-spam source as low_quality-heavy).
    *
    * `exactDropIds` / `nearDropIds` are one-column doc_id frames from the
    * upstream detectors ([[graft.operators.Dedup.exact]]'s complement,
    * a candidate-pair b-side, a CC drop list) — passed in rather than
    * recomputed, because at 100 TB those frames are already materialized
    * by the dedup stage and the funnel must attribute THE run's decisions,
    * not a recomputation's. Scale: two id-only left joins (32-byte-hash-
    * derived longs, broadcastable when the drop lists are small), the
    * fused one-projection score pass, one |sources × reasons| aggregate.
    * Output: source, reason, n_docs. */
  def curationFunnel(docs: DataFrame, exactDropIds: DataFrame,
                     nearDropIds: DataFrame, keepLang: String,
                     minQuality: Double): DataFrame = {
    val ex = exactDropIds.select(col("doc_id")).distinct().withColumn("__ex", lit(1))
    val nd = nearDropIds.select(col("doc_id")).distinct().withColumn("__nd", lit(1))
    docs.select(col("doc_id"), col("source"))
      .join(ex, Seq("doc_id"), "left_outer")
      .join(nd, Seq("doc_id"), "left_outer")
      .join(curationScores(docs), Seq("doc_id"))
      .select(col("source"),
        when(col("__ex").isNotNull, "exact_dup")
          .when(col("__nd").isNotNull, "near_dup")
          .when(col("pred_lang") =!= keepLang, "lang")
          .when(col("quality_score") < minQuality, "low_quality")
          .otherwise("kept").as("reason"))
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Per-stratum unigram KL divergence vs the corpus distribution —
    * KL(P_s ‖ P) = Σ_t (c_st/N_s)·ln(c_st·N / (N_s·c_t)) — the domain-
    * drift number a mixing dashboard tracks per source: 0 means the
    * stratum's token distribution is corpus-typical; a spike means a
    * source changed character (new boilerplate, language drift, spam
    * surge) even when volume and quality scores look flat. Every term
    * observed in a stratum has c_t ≥ c_st > 0, so the log is always
    * finite and the sum needs no guards.
    *
    * Float discipline (the [[unigramLogProb]] family): each per-term
    * contribution is ONE double expression over exact integer counts,
    * rounded to 9 into DECIMAL(26,9) — an order-independent exact sum —
    * and the final divergence rounds to 6. Counts multiply as doubles
    * (c_st·N, N_s·c_t), not longs: same IEEE product in both engines,
    * and no i64 overflow at corpus scale.
    *
    * Scale: one token explode feeding ONE (stratum, term) aggregate with
    * map-side partials; corpus term totals and stratum totals re-derive
    * from that VOCAB-SIZED frame (never a second corpus pass); the term
    * join is vocab-sized, stratum totals broadcast. Output: |strata| rows
    * (stratum, n_tokens, n_terms, kl). */
  def sourceDivergence(docs: DataFrame, strataCol: String = "source"): DataFrame =
    divergenceFromCounts(
      docs.select(col(strataCol).as("stratum"),
          explode(tokens(col("text"))).as("term"))
        .groupBy(col("stratum"), col("term")).agg(count(lit(1)).as("c_st")))

  /** [[sourceDivergence]]'s math from a PRE-AGGREGATED (stratum, term,
    * c_st) count frame — the shared core that lets the incremental
    * runner ([[graft.streaming.Incremental.runIncrementalSourceKl]])
    * merge per-batch count partials and publish the same KL the batch
    * pass computes: counts
    * are additive, so summed partials feed this identically to one
    * corpus pass. */
  def divergenceFromCounts(counts: DataFrame): DataFrame = {
    // the input may carry several PARTIAL rows per (stratum, term) — one
    // per merged batch — so re-sum first; on an already-unique frame the
    // child's partitioning makes this aggregate exchange-free.
    // Materialized once: three consumers (term totals, stratum totals,
    // the probe join) would otherwise each re-run the upstream corpus
    // explode + this aggregate; the frame is vocab×strata-sized.
    val cst = graft.Persist.cut(counts.groupBy(col("stratum"), col("term"))
      .agg(sum(col("c_st")).as("c_st")))
    val ct = cst.groupBy(col("term")).agg(sum(col("c_st")).as("c_t"))
    val ns = cst.groupBy(col("stratum")).agg(sum(col("c_st")).as("n_s"))
    val n = ns.agg(sum(col("n_s")).as("n"))
    cst.join(ct, "term")
      .join(broadcast(ns), "stratum")
      .crossJoin(broadcast(n))
      .select(col("stratum"), col("n_s"),
        round((col("c_st").cast("double") / col("n_s")) *
          log((col("c_st").cast("double") * col("n").cast("double")) /
            (col("n_s").cast("double") * col("c_t").cast("double"))), 9)
          .cast("decimal(26,9)").as("__kl"))
      .groupBy(col("stratum"))
      .agg(max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        // decimal-first round (the bm25Scores half-boundary note)
        round(sum(col("__kl")), 6).cast("double").as("kl"))
  }

  /** DSIR-style importance selection (Xie et al., NeurIPS 2023 — Data
    * Selection via Importance Resampling): score every POOL document by
    * the log-likelihood ratio of a TARGET unigram LM over the pool's own
    * LM, and keep the `quota` highest-scoring docs — "find me the raw-web
    * documents that look most like the high-quality target domain", the
    * selection step a pre-training mix runs before packing. Here the
    * target distribution comes from the rows matching `targetPred` (a
    * production run would pass an external reference corpus's counts —
    * swap `ct` for that table; the math is unchanged). Add-1 smoothing
    * over the union vocabulary keeps target-only and pool-only terms
    * finite on both sides of the ratio.
    *
    * Float discipline (the [[unigramLogProb]] contract): each term weight
    * is ONE double expression over exact integer counts — identical
    * operation order in the generated oracle SQL — rounded to 6 decimals
    * into DECIMAL(18,6); a document's score is then an exact decimal
    * dot-product sum(count·weight), order-free on both engines, and the
    * top-`quota` cut compares exact decimals with a doc_id tiebreak.
    *
    * Scale shape: two vocab-bounded count aggregates (map-side partials
    * absorb hot terms), the 3-scalar totals broadcast, ONE (doc, term)
    * aggregate over the pool (the corpus-sized shuffle), a term-keyed
    * counts-only join against the vocab-bounded weight table, a doc-keyed
    * decimal sum, and a TakeOrdered(quota) cut — no window, nothing
    * corpus-sized past the joins, text never shuffles.
    * Output: doc_id, score (double; quota rows). */
  def dsirSelect(docs: DataFrame, targetPred: Column, quota: Int): DataFrame = {
    // tok feeds three consumers (target counts, pool counts, per-doc
    // pool counts) and vocab two (totals + weights): materialize each
    // once — the narrow token rows and the vocabulary-sized count table
    val tok = graft.Persist.cut(docs.select(col("doc_id"), targetPred.as("__t"),
      explode(tokens(col("text"))).as("term")))
    val ct = tok.filter(col("__t")).groupBy(col("term")).agg(count(lit(1)).as("c_t"))
    val cp = tok.filter(!col("__t")).groupBy(col("term")).agg(count(lit(1)).as("c_p"))
    val vocab = graft.Persist.cut(ct.join(cp, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("c_t"), lit(0L)).as("c_t"),
        coalesce(col("c_p"), lit(0L)).as("c_p")))
    val tot = vocab.agg(sum(col("c_t")).cast("double").as("n_t"),
      sum(col("c_p")).cast("double").as("n_p"),
      count(lit(1)).cast("double").as("v"))
    val w = vocab.crossJoin(broadcast(tot))
      .select(col("term"),
        round(log(((col("c_t") + 1).cast("double") / (col("n_t") + col("v"))) /
          ((col("c_p") + 1).cast("double") / (col("n_p") + col("v")))), 6)
          .cast("decimal(18,6)").as("w"))
    val dt = tok.filter(!col("__t")).groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
    dt.join(w, "term")
      .select(col("doc_id"),
        (col("c").cast("decimal(12,0)") * col("w")).cast("decimal(26,6)").as("__s"))
      .groupBy(col("doc_id")).agg(sum(col("__s")).as("__sc"))
      .orderBy(col("__sc").desc, col("doc_id"))
      .limit(quota)
      .select(col("doc_id"), col("__sc").cast("double").as("score"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    * PageRank authority over the corpus's adjacent-token co-occurrence
    * graph; the top-k terms are the corpus keywords — the unsupervised
    * summarization signal a curation report wants next to frequency
    * (rank rewards terms that CONNECT hub vocabulary, not just hot ones).
    * Composed entirely from audited primitives: pairs derive positionally
    * from the staged token array (the bigram/PMI discipline — zero
    * Window nodes), canonicalize via LEAST/GREATEST, count-prune at
    * `minCount` (the graph is vocab-bounded and Zipf-pruned, never
    * corpus-sized), then ride [[Dedup.pageRank]]'s exact-decimal power
    * iteration; the cut is TakeOrdered(k).
    * Output: term, pr (double; k rows). */
  def textRankKeywords(docs: DataFrame, minCount: Int = 5, iters: Int = 5,
                       damping: Double = 0.85, k: Int = 20): DataFrame = {
    val pairs = docs.select(tokens(col("text")).as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__ts)-2), i -> struct(__ts[i] AS a, __ts[i+1] AS b))")).as("p"))
      .filter(col("p.a") =!= col("p.b"))
      .select(least(col("p.a"), col("p.b")).as("a_id"),
        greatest(col("p.a"), col("p.b")).as("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("a_id"), col("b_id"))
    Dedup.pageRank(pairs, iters, damping)
      .orderBy(col("pr").desc, col("id")).limit(k)
      .select(col("id").as("term"), col("pr"))
  }

  /** Distributed training of a fastText-style quality classifier —
    * full-batch logistic regression by gradient descent over cheap
    * surface features (token count, char count, digit ratio + bias),
    * labels from a trusted stratum (here `lang = 'en'`; a production run
    * labels with a curated-positive / random-negative split). Every
    * iteration is EXACTLY one corpus pass: features cross-join the
    * 1-row broadcast weight frame, per-doc gradient terms aggregate with
    * map-side partials, and the update lands back in a new 1-row frame —
    * zero driver round-trips (the [[bpeMerges]] argmax convention), so
    * iteration cost is O(corpus)/pass with a 4-value broadcast between
    * passes, the shape that holds at any corpus size.
    *
    * Determinism across engines: features are doubles derived from
    * integers by identical expressions; each doc's gradient contribution
    * rounds to 6 decimals into DECIMAL(18,6) BEFORE the sum (exact,
    * order-free — the x37 discipline), and the weight update
    * w += ROUND(0.1·g, 6) stays in exact decimal arithmetic, so the
    * trained weights are bit-replayable by the generated oracle chain.
    * Output: iter (1-based), j (0=bias, 1..3 features), w (double). */
  def logisticQualityWeights(docs: DataFrame, iters: Int = 3): DataFrame =
    lrLoop(docs, iters)._1

  /** The trained model as a persistable artifact: the final 1-row
    * DECIMAL weight frame (w0..w3). Feed it back through
    * [[logisticQualityWeightsFrom]] to WARM-START training on the next
    * ingest batch — incremental model maintenance without ever
    * re-reading history (gradient descent only needs the current
    * parameters, so the weight row IS the whole carried state). */
  def logisticQualityModel(docs: DataFrame, iters: Int = 3): DataFrame =
    lrLoop(docs, iters)._2

  /** [[logisticQualityModel]] continued from stored weights: run `iters`
    * further mean-gradient iterations over `docs` starting from `init`
    * (a (w0..w3) DECIMAL(18,6) row, e.g. yesterday's model). Exactly
    * equivalent to having run those iterations inline — the spec pins
    * batch-wise warm-start == one continuous loop on the same data. */
  def logisticQualityModelFrom(docs: DataFrame, init: DataFrame,
                               iters: Int = 3): DataFrame =
    lrLoop(docs, iters, Some(init))._2

  /** Surface features shared by the train and apply passes — doubles
    * derived from integers by identical expressions on both engines. */
  private def lrFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"),
      (size(tokens(col("text"))).cast("double") / lit(100)).as("x1"),
      (col("n_chars").cast("double") / lit(1000)).as("x2"),
      ((length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
        .cast("double") / greatest(col("n_chars"), lit(1L)).cast("double")).as("x3"))

  /** Shared train loop behind [[logisticQualityWeights]] /
    * [[qualityClassifierScores]]: (the per-iteration weight trace, the
    * final 1-row DECIMAL weight frame). */
  private def lrLoop(docs: DataFrame, iters: Int,
                     init: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    require(iters >= 1, "need at least one iteration")
    val feats = graft.Persist.cut(lrFeatures(docs).drop("doc_id"))
    val lr = new java.math.BigDecimal("0.1")
    var w = init.map(_.select(
      (0 to 3).map(j => col(s"w$j").cast("decimal(18,6)").as(s"w$j")): _*))
      .getOrElse(feats.sparkSession.range(1).select(
        (0 to 3).map(j => lit(java.math.BigDecimal.ZERO)
          .cast("decimal(18,6)").as(s"w$j")): _*))
    var out: Option[DataFrame] = None
    for (it <- 1 to iters) {
      val m = col("w0").cast("double") +
        col("w1").cast("double") * col("x1") +
        col("w2").cast("double") * col("x2") +
        col("w3").cast("double") * col("x3")
      val p = lit(1.0) / (lit(1.0) + exp(-m))
      val scored = feats.crossJoin(broadcast(w))
        .select(col("x1"), col("x2"), col("x3"), (col("y") - p).as("r"))
      val g = scored.select(
          round(col("r"), 6).cast("decimal(18,6)").as("g0"),
          round(col("r") * col("x1"), 6).cast("decimal(18,6)").as("g1"),
          round(col("r") * col("x2"), 6).cast("decimal(18,6)").as("g2"),
          round(col("r") * col("x3"), 6).cast("decimal(18,6)").as("g3"))
        // COALESCE + count floor keep the trainer total on an empty
        // corpus: zero gradient over max(n,1) docs = weights stay 0,
        // never null (sum over nothing is null, 0/0 is NaN)
        .agg(coalesce(sum(col("g0")), lit(java.math.BigDecimal.ZERO))
            .cast("decimal(18,6)").as("g0"),
          (1 to 3).map(j =>
            coalesce(sum(col(s"g$j")), lit(java.math.BigDecimal.ZERO))
              .cast("decimal(18,6)").as(s"g$j")) :+
            greatest(count(lit(1)), lit(1L)).cast("double").as("n"): _*)
      // MEAN gradient: lr·Σg is exact decimal, the /N lands in double
      // (identical on both engines) and re-rounds to 6 — an unnormalized
      // sum would scale the step by corpus size and diverge (observed:
      // lr·N ≈ 30 oscillates; the mean keeps the step corpus-invariant)
      w = graft.Persist.cut(w.crossJoin(broadcast(g)).select(
        (0 to 3).map(j =>
          (col(s"w$j") + detRound((lit(lr) * col(s"g$j")).cast("double") / col("n"), 6)
            .cast("decimal(18,6)")).cast("decimal(18,6)").as(s"w$j")): _*))
      val row = w
        .select(lit(it.toLong).as("iter"),
          posexplode(array(col("w0"), col("w1"), col("w2"), col("w3"))))
        .select(col("iter"), col("pos").cast("long").as("j"),
          col("col").cast("double").as("w"))
      out = Some(out.fold(row)(_.unionByName(row)))
    }
    (out.get, w)
  }

  /** Score-and-gate with the classifier [[logisticQualityWeights]] just
    * trained — the apply half of the train→apply pair (the [[bpeEncode]]
    * convention): every document's sigmoid quality probability under the
    * final iteration's weights, gated at the corpus's `dropQuantile`
    * score percentile — the DCLM/FineWeb-style "keep the top (1−q) by
    * classifier score" cut, which stays meaningful whatever base rate
    * the classifier converged to (an absolute 0.5 gate is one-sided
    * whenever the label prior is off-center, as it is here).
    * Scoring is one stateless projection against the 1-row broadcast
    * weight frame — embarrassingly parallel; the threshold is one
    * grouped-percentile scalar broadcast back (the
    * [[Similarity.prototypicalityPrune]] shape). Determinism: weights
    * are exact decimals, p rounds to 6, and the gate compares ROUND-4
    * values against a ROUND-4 quantile over them (the property-pinned
    * percentile parity). Output: doc_id, p (round 6), kept. */
  def qualityClassifierScores(docs: DataFrame, iters: Int = 3,
                              dropQuantile: Double = 0.5): DataFrame = {
    require(0 < dropQuantile && dropQuantile < 1, "quantile must be in (0, 1)")
    val w = lrLoop(docs, iters)._2
    val m = col("w0").cast("double") +
      col("w1").cast("double") * col("x1") +
      col("w2").cast("double") * col("x2") +
      col("w3").cast("double") * col("x3")
    val scored = lrFeatures(docs).crossJoin(broadcast(w))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-m)), 6).as("p"))
      .select(col("doc_id"), col("p"), round(col("p"), 4).as("__p4"))
    val thr = scored.agg(
      round(expr(s"percentile(__p4, $dropQuantile)"), 4).as("__thr"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("p"), (col("__p4") >= col("__thr")).as("kept"))
  }

  /** Gopher-style rule thresholds — shared verbatim with the x111 oracle
    * SQL. Bounds are tuned so the synthetic corpus exercises BOTH branches
    * of every rule (the vacuous rules of the real Gopher set — symbol
    * ratio, bullet/ellipsis lines — have no material in a
    * lowercase-words-only fixture and are deliberately omitted rather than
    * shipped untestable). */
  val gopherMinWords = 30L
  val gopherMaxWords = 90L
  val gopherMinWordLen = 4.0
  val gopherMaxWordLen = 10.0
  val gopherMinStop = 2L
  val gopherMinUniq = 0.4

  /** Per-document Gopher-rule diagnostics (Rae et al. 2021, §A1.1): the
    * raw signals, one boolean PER RULE, and the composite gate — rule-level
    * diagnosis is what a curation pipeline tunes against, where x04/x18
    * only emit a fused score. Entirely narrow: one staged-token projection,
    * zero exchanges. Word length is the mean of per-token lengths (not
    * x04's chars/token, which counts separators); uniqueness is
    * distinct/total tokens (the templated-text signal, cf. x22's n-gram
    * form). Empty docs emit null signals and null rule verdicts — never a
    * fabricated pass/fail. Rules compare the ROUNDED 4-decimal signals, so
    * verdicts are reproducible cross-engine by construction.
    * Output: doc_id, n_words, mean_word_len, stop_n, uniq_ratio,
    *         r_words, r_wordlen, r_stop, r_uniq, pass. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val nw = col("n_words")
    val base = stagedText(docs).select(
      col("doc_id"),
      size(col("__ts")).cast("long").as("n_words"),
      expr("aggregate(__ts, CAST(0 AS BIGINT), (a, x) -> a + length(x))").as("__sl"),
      wordSetCount(col("__ts"), lexicons.head._2).cast("long").as("stop_n"),
      size(array_distinct(col("__ts"))).cast("long").as("__uq"))
    base.select(
        col("doc_id"), nw,
        when(nw > 0, detRound(col("__sl").cast("double") / nw.cast("double"), 4))
          .as("mean_word_len"),
        col("stop_n"),
        when(nw > 0, detRound(col("__uq").cast("double") / nw.cast("double"), 4))
          .as("uniq_ratio"))
      .withColumn("r_words", nw.between(gopherMinWords, gopherMaxWords))
      .withColumn("r_wordlen",
        col("mean_word_len").between(gopherMinWordLen, gopherMaxWordLen))
      .withColumn("r_stop", col("stop_n") >= gopherMinStop)
      .withColumn("r_uniq", col("uniq_ratio") >= gopherMinUniq)
      .withColumn("pass",
        col("r_words") && col("r_wordlen") && col("r_stop") && col("r_uniq"))
  }

  /** Per-source corpus scorecard — the per-dump/per-crawl health report a
    * FineWeb-style pipeline runs after every ingest: volume (docs, tokens,
    * token share), exact-duplicate rate (md5 text groups, the x01 rule),
    * and mean x04 quality. One md5 aggregate + one source aggregate + a
    * 1-row total broadcast; the dup join ships (doc-key, 32-byte hash)
    * only, never text. The quality mean sums DECIMAL(18,4) casts of the
    * round-4 scores — exact, order-independent (the x61 discipline) — and
    * divides as double only at the end.
    * Output: source, n_docs, n_tokens, token_share, dup_docs, dup_rate,
    *         mean_quality. */
  def sourceHealth(docs: DataFrame): DataFrame =
    sourceHealthFromPartials(sourceHealthPartials(docs))

  /** Per-(source, content-hash) FOLDABLE digest behind [[sourceHealth]]
    * and its incremental twin: doc count, exact token sum, and the
    * DECIMAL(18,4) quality sum per content group. Everything is additive —
    * partials from any corpus split merge by summation into exactly the
    * whole-corpus digest (counts and decimal sums are associative), which
    * is what lets the batch report and the `batch=<id>` streaming fold
    * share ONE definition. |distinct (source, text)| rows, 32-byte hashes,
    * never text.
    * Output: source, h, n_docs, tokens, qsum. */
  def sourceHealthPartials(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("text"),
        tokens(col("text")).as("__ts"))
      .select(col("source"), md5(col("text")).as("h"),
        nTokExpr.as("__n"),
        qualityScoreExpr(nTokExpr, nCharExpr, digitsExpr).as("__q"))
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("tokens"),
        sum(col("__q").cast("decimal(18,4)")).as("qsum"))

  /** Fold [[sourceHealthPartials]] digests (one batch or a union of
    * `batch=<id>` directories) into the per-source scorecard. Duplicate
    * detection is CROSS-batch by construction: per-hash totals sum over
    * every batch before the >1 test, so a mirror ingested weeks after the
    * original still marks both sources. Same aggregate discipline as the
    * direct pass (hash-group totals → source rollup → 1-row token-total
    * broadcast). */
  def sourceHealthFromPartials(parts: DataFrame): DataFrame = {
    // the hash-group digest feeds the per-hash totals AND the scorecard
    // join: materialize once — callers pass the live corpus digest pass
    val byHash = graft.Persist.cut(parts.groupBy(col("source"), col("h"))
      .agg(sum(col("n_docs")).as("__nd"), sum(col("tokens")).as("__tk"),
        sum(col("qsum")).as("__qs")))
    val hTot = byHash.groupBy(col("h")).agg(sum(col("__nd")).as("__hc"))
    val per = byHash.join(hTot, "h")
      .groupBy(col("source"))
      .agg(sum(col("__nd")).as("n_docs"),
        sum(col("__tk")).as("n_tokens"),
        sum(when(col("__hc") > 1, col("__nd")).otherwise(0L)).as("dup_docs"),
        sum(col("__qs")).as("__qsum"))
    val tot = per.agg(sum(col("n_tokens")).cast("double").as("__T"))
    per.crossJoin(broadcast(tot)).select(
      col("source"), col("n_docs"), col("n_tokens"),
      detRound(col("n_tokens").cast("double") / col("__T"), 6).as("token_share"),
      col("dup_docs"),
      detRound(col("dup_docs").cast("double") / col("n_docs").cast("double"), 6)
        .as("dup_rate"),
      detRound(col("__qsum").cast("double") / col("n_docs").cast("double"), 6)
        .as("mean_quality"))
  }

  /** Cross-source exact-duplication matrix — the provenance report behind
    * [[sourceHealth]]'s dup counts: for every unordered pair of sources
    * sharing at least one byte-identical text, how many distinct CONTENT
    * GROUPS they share and how many documents sit in those groups on each
    * side. The who-copies-whom diagnostic that decides which feed is the
    * mirror and which the origin.
    *
    * The group `key` is caller-chosen: `md5(text)` for byte-exact
    * provenance, the md5 of a token prefix for the truncated-mirror class
    * (the x52 blocking key — re-crawls and pagination cuts share prefixes,
    * not whole bytes), or the x53 normalized-text hash.
    *
    * Ships (source, 32-byte hash, per-source count) digests only — never
    * text; the pair join is hash-keyed and emits ≤ C(|sources in group|, 2)
    * rows per group, bounded by |sources|² regardless of how many
    * DOCUMENTS a hot group holds (the count rides the digest, not a doc
    * explode). Output: source_a, source_b (a < b), shared_groups,
    * docs_a, docs_b. */
  def crossSourceDups(docs: DataFrame, key: Column): DataFrame = {
    // both self-join sides consume the digest frame: materialize once or
    // the corpus hash aggregate runs twice
    val g = graft.Persist.cut(docs
      .select(col("source"), key.as("h"))
      .groupBy(col("h"), col("source")).agg(count(lit(1)).as("nd")))
    val a = g.select(col("h"), col("source").as("source_a"), col("nd").as("__na"))
    val b = g.select(col("h"), col("source").as("source_b"), col("nd").as("__nb"))
    a.join(b, "h")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_groups"),
        sum(col("__na")).as("docs_a"), sum(col("__nb")).as("docs_b"))
  }

  /** Tokenizer fertility by language: pieces-per-word under the x91/x96
    * BPE merge chain — the cross-lingual tokenizer-equity report (a
    * tokenizer trained on a skewed mix over-segments the minority
    * languages; fertility is the standard measure). Rides [[bpeEncode]]'s
    * vocab-bounded symbol table: the corpus side aggregates to (lang,
    * word) counts first, then joins the BROADCAST vocabulary — nothing
    * corpus-sized crosses the join. The symbol table covers every corpus
    * word by construction (bpeLoop trains on the full distinct-word
    * table), so the inner join is total.
    * Output: lang, n_words, n_pieces, fertility. */
  def bpeFertility(docs: DataFrame, merges: Int = 5): DataFrame = {
    val vocab = bpeEncode(docs, merges).select(col("w"), col("n_pieces"))
    val langWords = docs
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("__c"))
    langWords.join(broadcast(vocab), "w")
      .groupBy(col("lang"))
      .agg(sum(col("__c")).as("n_words"),
        sum(col("__c") * col("n_pieces")).as("n_pieces"))
      .select(col("lang"), col("n_words"), col("n_pieces"),
        detRound(col("n_pieces").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"))
  }

  /** Per-source Zipf-law fit — the distributional fingerprint that
    * separates natural language from templated/machine-generated text: a
    * natural corpus' term frequencies follow freq ∝ rank^s with s ≈ −1
    * (Zipf 1949), while boilerplate-stuffed or synthetic sources flatten
    * (s → 0, all terms equally common) or steepen (a few tokens looping).
    * Per SOURCE because that is the curation unit — one bad feed shows up
    * as the outlier slope in a 20-row report. Fit is ordinary least
    * squares of ln(freq) on ln(rank) over each source's top-`topV` terms
    * (the standard head-only fit: the power law holds in the head, and
    * the tail's rank ties are meaningless anyway).
    *
    * Scale shape: one (source, term) count aggregate with map-side
    * partials (hot terms absorbed exactly like [[vocabulary]]); the
    * top-`topV` cut is one bounded `graft_top_k` aggregate per source
    * (O(topV) per-group state, ZERO Window nodes: rank falls out of the
    * sorted array position). The OLS sums are four ROUND-6
    * DECIMAL(18,6) terms per source — order-free addition (the x37
    * convention), so the fit is insensitive to aggregation order on
    * both engines; slope/intercept are one double
    * expression over the exact sums. Sources with a single distinct term
    * have no variance to fit and drop. Output: source, n_terms,
    * slope (ROUND 4), intercept (ROUND 4). */
  def zipfSlope(docs: DataFrame, topV: Int = 100): DataFrame =
    zipfSlopeFromCounts(zipfCounts(docs), topV)

  /** The (source, term, c) count frame behind [[zipfSlope]] — exposed
    * because the counts are ADDITIVE (sum-by-key folds batches), which is
    * what the incremental twin persists per batch; the fit itself is not
    * additive (ranks shift as counts grow) and always re-derives from the
    * folded counts. */
  def zipfCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))

  /** [[zipfSlope]]'s head cut + OLS over an already-aggregated
    * (source, term, c) frame — ONE definition shared by the batch
    * operator and the incremental runner's fold, so the two cannot
    * drift. */
  def zipfSlopeFromCounts(counts: DataFrame, topV: Int = 100): DataFrame = {
    // sort key struct(-c, term): field-lexicographic → count DESC, term
    // ASC — the deterministic cut the oracle's ROW_NUMBER replays
    val cand = struct((-col("c")).as("negc"), col("term"), col("c"))
    val top = counts.groupBy(col("source"))
      .agg(graft.GraftFunctions.topK(counts, cand, topV).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("double").as("__x"),
        col("col").getField("c").cast("double").as("__y"))
    olsLnLnFit(top, "source", "n_terms")
  }

  /** Shared log-log OLS core: per `group`, fit ln(__y) on ln(__x) over a
    * (group, __x, __y) point frame — ONE definition behind the Zipf
    * (rank→freq) and Heaps (tokens→vocab) fits, so the decimal-sum
    * discipline and the slope/intercept expression shape (which the
    * oracle SQL mirrors verbatim) cannot drift between them. Four
    * ROUND-6 DECIMAL(18,6) sums (order-free, x37); groups with fewer
    * than 2 points have no variance and drop. */
  private def olsLnLnFit(points: DataFrame, group: String,
                         nAs: String): DataFrame = {
    val d6 = (e: Column) => round(e, 6).cast("decimal(18,6)")
    val fit = points.groupBy(col(group)).agg(
      count(lit(1)).as(nAs),
      sum(d6(log(col("__x")))).as("__sx"),
      sum(d6(log(col("__y")))).as("__sy"),
      sum(d6(log(col("__x")) * log(col("__x")))).as("__sxx"),
      sum(d6(log(col("__x")) * log(col("__y")))).as("__sxy"))
    val n = col(nAs).cast("double")
    val sx = col("__sx").cast("double"); val sy = col("__sy").cast("double")
    val sxx = col("__sxx").cast("double"); val sxy = col("__sxy").cast("double")
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    fit.filter(col(nAs) >= 2)
      .select(col(group), col(nAs),
        // detRound: slope/intercept are rational quotients of the exact
        // decimal sums — knife-edge class (the inner ln() sums keep
        // engine ROUND: a dyadic double can't equal a non-dyadic half)
        (detRound(slope, 4) + 0.0).as("slope"),
        (detRound((sy - slope * sx) / n, 4) + 0.0).as("intercept"))
  }

  /** Per-source Heaps'-law fit — [[zipfSlope]]'s companion fingerprint on
    * the GROWTH axis: a natural corpus' vocabulary grows as V(N) ∝ N^β
    * with β ≈ 0.4-0.7 (Heaps 1978); templated text saturates early
    * (β → 0, the same 1000 tokens forever) and id-stuffed/synthetic text
    * runs β → 1 (every token new). Growth points are CHECKPOINTS at
    * doc_id-bucket boundaries (bucket = doc_id DIV `bucketDocs`, the
    * ingest order), measuring cumulative tokens N and cumulative distinct
    * terms V per source; the fit is the shared log-log OLS.
    *
    * Scale shape: "distinct so far" is NOT tracked as running state —
    * each term contributes exactly once at its FIRST-occurrence bucket
    * (a min(doc_id) aggregate, map-side combined), so V falls out of a
    * per-bucket count. Both per-bucket frames aggregate BEFORE the
    * cumulative window, whose partitions are ≤ id-range/bucketDocs rows
    * per source (the x35 aggregate-then-window spine discipline;
    * bucketDocs is the lever). Checkpoints before the first non-empty
    * doc (N or V still 0) have no log and drop; single-point sources
    * drop with them. Output: source, n_points, slope, intercept. */
  def heapsLaw(docs: DataFrame, bucketDocs: Long = 50): DataFrame = {
    require(bucketDocs > 0, "bucket size must be positive")
    val staged = docs.select(col("source"), col("doc_id"),
      size(tokens(col("text"))).cast("long").as("__nt"))
    val tokPerBucket = staged
      .groupBy(col("source"), expr(s"doc_id DIV $bucketDocs").as("__b"))
      .agg(sum(col("__nt")).as("__tok"))
    val newPerBucket = docs
      .select(col("source"), col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(min(col("doc_id")).as("__fo"))
      .groupBy(col("source"), expr(s"__fo DIV $bucketDocs").as("__b"))
      .agg(count(lit(1)).as("__new"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("__b"))
    // first occurrences live in a doc, so newPerBucket's buckets ⊆
    // tokPerBucket's — left join keeps every checkpoint
    val cum = tokPerBucket
      .join(newPerBucket, Seq("source", "__b"), "left_outer")
      .select(col("source"), col("__b"),
        sum(col("__tok")).over(w).as("__N"),
        sum(coalesce(col("__new"), lit(0L))).over(w).as("__V"))
    olsLnLnFit(
      cum.filter(col("__N") > 0 && col("__V") > 0)
        .select(col("source"), col("__N").cast("double").as("__x"),
          col("__V").cast("double").as("__y")),
      "source", "n_points")
  }

  /** Metadata-vs-content language confusion matrix — the label-noise
    * audit over the corpus' `lang` column: stored metadata (scraper
    * annotations, upstream headers) against [[langId]]'s content-derived
    * prediction, with per-label shares. A clean corpus is
    * diagonal-heavy; a row bleeding probability off-diagonal means that
    * label's metadata cannot be trusted for mixture planning (x59/x108
    * key on it) and the content classifier should gate instead. This is
    * the report that catches "everything from feed X is tagged en".
    *
    * Scale shape: rides the narrow langId projection into a ≤ |langs|²
    * aggregate with map-side partials; label totals re-aggregate the
    * matrix itself (never a second corpus pass) and broadcast back.
    * Output: lang_label, pred_lang, n, share (ROUND 6 of n/label
    * total). */
  def langConfusion(docs: DataFrame): DataFrame = {
    val m = graft.Persist.cut(
      langId(docs).groupBy(col("lang_label"), col("pred_lang"))
        .agg(count(lit(1)).as("n")))
    val tot = m.groupBy(col("lang_label")).agg(sum(col("n")).as("__t"))
    m.join(broadcast(tot), Seq("lang_label"))
      .select(col("lang_label"), col("pred_lang"), col("n"),
        detRound(col("n").cast("double") / col("__t").cast("double"), 6)
          .as("share"))
  }

  /** Cohen's KAPPA over [[langConfusion]]'s matrix — the one-number
    * chance-corrected agreement between the stored language label and
    * the content classifier. Raw accuracy (x134's diagonal share) reads
    * high on any skewed corpus because the majority class agrees with
    * itself by luck; kappa subtracts that chance floor, which is the
    * number a curation team actually thresholds before trusting stored
    * metadata for mixture planning. Computed EXACTLY in integer
    * arithmetic before the single final round: po = trace/n,
    * pe = Σ_k row_k·col_k / n², and kappa folds to the one quotient
    * (n·trace − Σrc) / (n² − Σrc) of exact longs — detRound(6) on each,
    * per the rational-quotient discipline. The degenerate
    * all-mass-in-one-cell matrix (pe = 1) yields NULL kappa, never a
    * divide-by-zero.
    *
    * Scale shape: rides [[langConfusion]]'s persisted ≤|langs|² matrix;
    * everything after is arithmetic over ≤|langs| marginal rows folded
    * into ONE output row via broadcast scalars. n·trace and Σ row·col
    * are ≤ n², inside long range until n > 3e9 docs — and the matrix
    * count would overflow first. Output: n_docs, agree, po, pe, kappa. */
  def langAgreementKappa(docs: DataFrame): DataFrame = {
    val m = graft.Persist.cut(
      langId(docs).groupBy(col("lang_label"), col("pred_lang"))
        .agg(count(lit(1)).as("n")))
    val rows = m.groupBy(col("lang_label").as("k")).agg(sum(col("n")).as("__rn"))
    val cols = m.groupBy(col("pred_lang").as("k")).agg(sum(col("n")).as("__cn"))
    val src = rows.join(cols, "k")
      .agg(coalesce(sum(col("__rn") * col("__cn")), lit(0L)).as("__src"))
    val tr = m.filter(col("lang_label") === col("pred_lang"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("agree"))
    val nn = col("n_docs") * col("n_docs")
    m.agg(sum(col("n")).as("n_docs"))
      .crossJoin(broadcast(tr)).crossJoin(broadcast(src))
      .select(col("n_docs"), col("agree"),
        detRound(col("agree").cast("double") / col("n_docs").cast("double"), 6)
          .as("po"),
        detRound(col("__src").cast("double") / nn.cast("double"), 6).as("pe"),
        when(nn =!= col("__src"),
          detRound((col("n_docs") * col("agree") - col("__src")).cast("double") /
            (nn - col("__src")).cast("double"), 6)).as("kappa"))
  }

  /** Quality ENSEMBLE — three orthogonal curation signals fused on the
    * RANK axis instead of the value axis: quality score ([[quality]]),
    * token entropy ([[tokenEntropy]]), and repetition ratio
    * ([[repetitionRatio]], inverted) each map to their equal-mass
    * bucket (the x51 exact-percentile discipline), and the ensemble is
    * the mean bucket. Rank fusion is the standard fix for
    * incommensurable signal scales: a raw weighted sum is dominated by
    * whichever signal happens to have the widest numeric range, while
    * buckets make "top decile in quality" and "top decile in entropy"
    * worth the same vote — and the gate stays meaningful as the
    * corpus drifts because the thresholds are re-derived percentiles,
    * not frozen constants. `selected` thresholds the ROUND-4 ensemble.
    *
    * Scale shape: one fused per-row projection (quality), one
    * vocab-per-doc bounded aggregate (entropy), one per-row shingle
    * projection (repetition), joined doc-keyed and CUT once; the three
    * bucketings are each ONE scalar percentile aggregate broadcast onto
    * a narrow comparison pass ([[Relational.quantileBuckets]] — no
    * rangepartitioning, window-free). Docs with fewer than 3 tokens
    * have no repetition signal and are absent (nothing to ensemble).
    * Output: doc_id, q_bucket, e_bucket, r_bucket, ensemble
    * (detRound 4), selected. */
  def qualityEnsemble(docs: DataFrame, buckets: Int = 10,
                      minEnsemble: Double = 6.0): DataFrame = {
    val sig = graft.Persist.cut(
      quality(docs).select(col("doc_id"), col("quality_score"))
        .join(tokenEntropy(docs).select(col("doc_id"), col("entropy")), "doc_id")
        .join(repetitionRatio(docs).select(col("doc_id"), col("rep_ratio")), "doc_id"))
    val b = Relational.quantileBuckets(
      Relational.quantileBuckets(
        Relational.quantileBuckets(sig, "quality_score", buckets, "q_bucket"),
        "entropy", buckets, "e_bucket"),
      "rep_ratio", buckets, "r_bucket")
    // detRound: bucket-sum/3 is a rational quotient of small integers —
    // it lands on an exact third (x.3333…5 prints are the knife edge)
    val ens = detRound((col("q_bucket") + col("e_bucket")
      + lit((buckets + 1).toLong) - col("r_bucket")).cast("double") / 3.0, 4)
    b.select(col("doc_id"), col("q_bucket"), col("e_bucket"), col("r_bucket"),
      ens.as("ensemble"), (ens >= lit(minEnsemble)).as("selected"))
  }

  /** CODE-SWITCH segmentation — [[langId]] applied per fixed token
    * CHUNK instead of per document, then rolled into a per-doc mixture
    * verdict: a document whose chunks disagree about their language is
    * either genuinely code-switched (quoted passages, bilingual forums)
    * or a concatenation artifact (crawler page boundaries lost) — both
    * are cases a doc-level language label silently mis-routes during
    * mixture planning, and x134's confusion matrix can only see them as
    * unexplained label noise. `major_lang` is the modal chunk verdict
    * (ties: fewest-chunks lang wins by lang-asc tiebreak);
    * `mixed_frac` = 1 − modal share, thresholded on the ROUNDED value
    * so the flag replays cross-engine.
    *
    * Scale shape: one narrow posexplode (token stream with positions),
    * then three partial-aggregated shuffles with bounded groups —
    * (doc, chunk) lexicon counts, (doc, pred) chunk tallies, and the
    * per-doc rollup whose state is ≤ |langs|+1 rows. The modal pick is
    * min_by over (−n, pred) structs, never a window. Docs with zero
    * non-empty tokens have no chunks and are absent.
    * Output: doc_id, n_chunks, major_lang, major_chunks,
    * mixed_frac (ROUND 4), flagged. */
  def codeSwitch(docs: DataFrame, chunkTokens: Int = 20,
                 mixedThreshold: Double = 0.25): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    val tok = docs.select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"),
        floor(col("pos") / lit(chunkTokens)).cast("long").as("__chunk"),
        col("col").as("__t"))
    val cnts = lexicons.map { case (l, ws) =>
      sum(when(col("__t").isin(ws: _*), 1L).otherwise(0L)).as(s"cnt_$l") }
    val chunkLang = tok.groupBy(col("doc_id"), col("__chunk"))
      .agg(cnts.head, cnts.tail: _*)
      .select(col("doc_id"), predLangExpr.as("pred"))
    val tieKey = struct((-col("__n")).as("a"), col("pred").as("b"))
    val frac = detRound(lit(1.0) - col("major_chunks").cast("double") /
      col("n_chunks").cast("double"), 4)
    chunkLang.groupBy(col("doc_id"), col("pred"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__n")).as("n_chunks"),
        min_by(col("pred"), tieKey).as("major_lang"),
        min_by(col("__n"), tieKey).as("major_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("major_lang"),
        col("major_chunks"), frac.as("mixed_frac"),
        (frac >= lit(mixedThreshold)).as("flagged"))
  }

  /** Per-source DISTINCTIVE terms — source-level TF-IDF keyword
    * extraction (the per-source form of the per-document x16): score =
    * count · ln(|sources| / source-df), so terms every source carries
    * zero out and each source's report reads as "what this feed talks
    * about that others don't" — the at-a-glance characterization a
    * curation team reads before weighting a new source. Top-`k` per
    * source by (ROUND-4 score DESC, term ASC) via the bounded
    * `graft_top_k` aggregate (zero Window nodes); rank is the
    * sorted-array position.
    *
    * Scale shape: rides [[zipfCounts]] (one count pass feeds x122, x130,
    * x131, and this); source-df is a term-keyed aggregate with map-side
    * partials; |sources| is a 1-row broadcast. Per-group top-k state is
    * bounded by k. Output: source, pos (1-based), term, score. */
  def sourceTopTerms(docs: DataFrame, k: Int = 5): DataFrame =
    sourceTopTermsFromCounts(zipfCounts(docs), k)

  /** [[sourceTopTerms]] over an already-aggregated (source, term, c)
    * frame. */
  def sourceTopTermsFromCounts(counts: DataFrame, k: Int = 5): DataFrame = {
    val cnts = graft.Persist.cut(counts)
    val ns = cnts.agg(count_distinct(col("source")).cast("double").as("__ns"))
    val dfc = cnts.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val scored = cnts.join(dfc, Seq("term")).crossJoin(broadcast(ns))
      .select(col("source"), col("term"),
        round(col("c").cast("double") *
          log(col("__ns") / col("__df").cast("double")), 4).as("score"))
    val cand = struct((-col("score")).as("negs"), col("term"), col("score"))
    scored.groupBy(col("source"))
      .agg(graft.GraftFunctions.topK(scored, cand, k).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("long").as("pos"),
        col("col").getField("term").as("term"),
        col("col").getField("score").as("score"))
  }

  /** Source-to-source term-distribution similarity — the STATISTICAL
    * mirror detector next to x121's content-hash provenance matrix: two
    * feeds republishing the same material (reformatted, re-chunked, so no
    * shingle survives) still share a term profile, and a near-1 cosine
    * between sources is the signal to collapse or down-weight one before
    * mixture planning. Vectors are raw term counts over the GLOBAL
    * top-`topV` vocabulary (one shared axis set, so sources are
    * comparable); similarity is cosine with dot and norms in EXACT
    * integer arithmetic, divided once (cross-engine stable, cf. x43).
    *
    * Scale shape: the vocabulary cut is TakeOrdered over partial counts
    * (the x29 discipline, vocab-sized by construction); per-source
    * vectors are ≤ topV·|sources| rows; the pair stage joins them on the
    * term key — per-term cost (sources carrying that term)², total ≤
    * topV·|sources|² with map-side partial dots, the |strata|²-bounded
    * aggregate family (x58). Norms broadcast (|sources| rows). Pairs
    * with no shared top-V term score 0 implicitly and are ABSENT (a
    * mirror alarm reads presence, not absence). Output: source_a,
    * source_b, shared_terms, cos (ROUND 4). */
  def sourceSimilarity(docs: DataFrame, topV: Int = 200): DataFrame =
    sourceSimilarityFromCounts(zipfCounts(docs), topV)

  /** [[sourceSimilarity]] over an already-aggregated (source, term, c)
    * frame — shares [[zipfCounts]] with the Zipf family so one count
    * pass can feed both reports. */
  def sourceSimilarityFromCounts(counts: DataFrame, topV: Int = 200): DataFrame = {
    // callers pass the LIVE count aggregate (one corpus explode): it
    // feeds the vocabulary cut AND the vector projection, and the vector
    // frame feeds three consumers (norms + both self-join sides) —
    // materialize each once. vec is ≤ topV rows per source.
    val cn = graft.Persist.cut(counts)
    val vocab = cn.groupBy(col("term")).agg(sum(col("c")).as("__n"))
      .orderBy(col("__n").desc, col("term")).limit(topV)
      .select(col("term"))
    val vec = graft.Persist.cut(cn.join(broadcast(vocab), Seq("term"))
      .select(col("source"), col("term"), col("c")))
    val norms = vec.groupBy(col("source"))
      .agg(sum(col("c") * col("c")).as("__n2"))
    val dots = vec.as("a")
      .join(vec.as("b"),
        col("a.term") === col("b.term") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_terms"),
        sum(col("a.c") * col("b.c")).as("__dot"))
    dots
      .join(broadcast(norms.select(col("source").as("source_a"),
        col("__n2").as("__na"))), Seq("source_a"))
      .join(broadcast(norms.select(col("source").as("source_b"),
        col("__n2").as("__nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_terms"),
        round(col("__dot").cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))),
          4).as("cos"))
  }

  /** Calibration (reliability) report for the [[qualityClassifierScores]]
    * model — the diagnostic a model-in-the-loop filter needs before its
    * scores gate data: per predicted-probability decile, how often is the
    * label actually positive? A well-calibrated filter has mean_p ≈
    * frac_pos per bin; systematic gaps mean the gate threshold (x100)
    * keeps/drops different volumes than the probabilities promise. Labels
    * are the SAME training labels the LR chain fits (in-sample
    * calibration — the drift alarm form; held-out calibration is this
    * operator over a [[deterministicSplit]] slice).
    *
    * Bins are EQUAL-MASS (score quantiles via [[Relational
    * .quantileBuckets]]' exact-percentile thresholds), not fixed-width:
    * an early-training or weakly-separated classifier concentrates its
    * scores in a sliver of [0,1], where fixed deciles would collapse the
    * whole report into one row — equal-mass binning is also the standard
    * ECE estimator choice for exactly this reason (Nixon et al. 2019).
    *
    * Scale shape: scoring is the stateless 1-row-broadcast projection
    * (the x100 path); thresholds are ONE exact-percentile aggregate
    * broadcast back (the x51 discipline); the report is ONE aggregate
    * with ≤`bins` groups, map-side partials, per-group state of three
    * numbers. mean_p sums the ROUND-6 scores as exact DECIMAL
    * (order-free, x37); frac_pos is integer counting. Thresholds are
    * ROUND-4, so bucket membership replays cross-engine. Output: bin
    * (1-based), n, mean_p (ROUND 4), frac_pos (ROUND 4). */
  def calibrationReport(docs: DataFrame, iters: Int = 3,
                        bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least two bins")
    val w = lrLoop(docs, iters)._2
    val m = col("w0").cast("double") +
      col("w1").cast("double") * col("x1") +
      col("w2").cast("double") * col("x2") +
      col("w3").cast("double") * col("x3")
    val scored = lrFeatures(docs).crossJoin(broadcast(w))
      .select(col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-m)), 6).as("p"))
    Relational.quantileBuckets(scored, "p", bins, as = "bin")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("p").cast("decimal(18,6)")).as("__sp"),
        sum(col("y")).as("__sy"))
      .select(col("bin"), col("n"),
        detRound(col("__sp").cast("double") / col("n").cast("double"), 4)
          .as("mean_p"),
        detRound(col("__sy") / col("n").cast("double"), 4).as("frac_pos"))
  }

  /** Packing-efficiency report over [[packSequences]]' bins: how full do
    * the assembled context windows actually get? Per fill-decile (bin
    * cost as a fraction of the token budget, decided in INTEGER
    * arithmetic — cost·10 DIV budget, capped at 10 for bins an oversize
    * doc overflows), the number of bins, their total cost, and the
    * padding tokens a trainer would burn on them (budget − cost, floored
    * at 0). Padding fraction is THE packing quality number — a pipeline
    * tunes shard count and bin budget against exactly this histogram,
    * because every padding token at 100 TB scale is a GPU-hour of
    * attention over nothing.
    *
    * Scale shape: rides the packing window (the audited per-shard
    * arithmetic) plus two bounded aggregates: per-(shard, bin) groups are
    * budget-bounded by construction, and the decile rollup has ≤ 11
    * groups. Costs use the same GREATEST(n_tokens, 1) floor the bin rule
    * charges, so fill reflects occupancy, not raw text length.
    * Output: fill_decile, n_bins, bin_tokens, padding. */
  def packEfficiency(docs: DataFrame, budgetTokens: Long,
                     shards: Int = 1024): DataFrame = {
    val perBin = packSequences(docs, budgetTokens, shards)
      .groupBy(col("shard"), col("bin"))
      .agg(sum(greatest(col("n_tokens"), lit(1L))).as("__cost"))
    perBin
      .select(
        least(expr(s"__cost * 10 DIV $budgetTokens"), lit(10L)).cast("long")
          .as("fill_decile"),
        col("__cost"),
        greatest(lit(budgetTokens) - col("__cost"), lit(0L)).as("__pad"))
      .groupBy(col("fill_decile"))
      .agg(count(lit(1)).as("n_bins"), sum(col("__cost")).as("bin_tokens"),
        sum(col("__pad")).as("padding"))
  }

  /** Fertility-adjusted per-language token budget — the multilingual
    * allocation step after [[bpeFertility]]: a target mixture speaks in
    * TOKEN shares, but acquisition happens in WORDS of raw text, and the
    * exchange rate differs per language (zh at 2 pieces/word needs half
    * the words of en for the same token share). tokens_alloc =
    * ⌊budget·share⌋; words_alloc = ⌊tokens_alloc / fertility⌋ — floors,
    * not rounds, so allocations never overshoot the budget and the
    * integer results replay cross-engine exactly. Languages outside the
    * target map surface with null share and null allocations (the
    * [[tokenBudgetPlan]] null-gating convention — never a fabricated
    * "take everything").
    *
    * Scale shape: everything past the fertility chain (vocab-bounded by
    * construction) is arithmetic over ≤|languages| rows against a
    * broadcast literal map. Output: lang, n_words, fertility,
    * target_share, tokens_alloc, words_alloc. */
  def fertilityBudget(docs: DataFrame, target: Map[String, Double],
                      budgetTokens: Long, merges: Int = 5): DataFrame = {
    require(budgetTokens > 0, "token budget must be positive")
    require(target.values.forall(_ > 0), "target shares must be positive")
    val share = element_at(typedLit(target), col("lang"))
    val tokAlloc = floor(lit(budgetTokens.toDouble) * share).cast("long")
    bpeFertility(docs, merges)
      .select(col("lang"), col("n_words"), col("fertility"),
        share.as("target_share"),
        when(share.isNotNull, tokAlloc).as("tokens_alloc"),
        when(share.isNotNull,
          floor(tokAlloc.cast("double") / col("fertility")).cast("long"))
          .as("words_alloc"))
  }
}
