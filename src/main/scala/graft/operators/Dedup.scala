package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NumericFunctions.detRound
import graft.functions.TextFunctions._

/** Document deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * All hashing is built on md5 (identical lowercase-hex semantics in Spark
  * and DuckDB) so every stage is replayable by the SQL oracle — no
  * engine-private hash functions in the contract surface.
  *
  * Scale notes:
  *  - exact dedupe: one shuffle on the content hash (never on the raw text —
  *    group keys stay 32 bytes regardless of document size).
  *  - MinHash/LSH: shingle explode is narrow; the signature build is ONE
  *    groupBy(doc_id) shuffle carrying k 32-byte mins; the LSH bucket join
  *    shuffles only (doc_id, band, 32-byte band hash) — never documents.
  *    Candidate verification (exact Jaccard) runs only on bucket collisions,
  *    which is the entire point of LSH at 100 TB.
  *  - SimHash: narrow explode + one groupBy(doc_id) with `bits` integer sums.
  */
object Dedup {

  /** Exact dedup, keep lowest id per identical text. Grouping on md5(text)
    * keeps shuffle rows small; the (astronomically unlikely) md5 collision
    * is tolerated as is standard for content-hash dedup. */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    Relational.dedupeKeepFirst(
      docs.withColumn("__h", md5(text)), Seq(col("__h")), Seq(id))
      .drop("__h")

  /** Exact dedup after TEXT NORMALIZATION — catches the near-exact class
    * the byte-exact hash misses (case variants, whitespace damage,
    * punctuation-stripped mirrors) without paying the full near-dup
    * machinery: texts are lowercased, punctuation-stripped and
    * whitespace-collapsed BEFORE hashing, so the group key is the md5 of
    * the canonical form. Same one-shuffle-of-32-byte-hashes shape as
    * [[exact]]; the normalization is a narrow projection. Keeps the
    * lowest id per normalized class. The canonalization is pure string
    * functions (lower/regexp_replace/trim) so the oracle replays it. */
  def exactNormalized(docs: DataFrame, id: Column, text: Column): DataFrame =
    Relational.dedupeKeepFirst(
      docs.withColumn("__h", md5(normalizeText(text))), Seq(col("__h")), Seq(id))
      .drop("__h")

  /** The [[exactNormalized]] canonical form: lowercase, strip everything
    * but [a-z0-9 ], collapse whitespace runs, trim. ONE definition, used
    * by the operator and printed into the oracle SQL. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Truncation/prefix duplicates: pairs where one document's token
    * sequence is a STRICT PREFIX of another's — the re-crawl failure
    * mode (truncated fetches, pagination cuts) that whole-doc hashing
    * misses entirely and shingle-Jaccard only catches when the truncation
    * is mild (a 10%-of-the-original truncation shares ~10% of shingles,
    * far below any near-dup threshold).
    *
    * Blocking: documents sharing the md5 of their FIRST `n` tokens are
    * candidates — every true prefix pair shares it by construction (both
    * must have >= n tokens; shorter docs are out of scope, the standard
    * blocking trade documented to callers). Verification is exact:
    * shorter token count AND the long text starts with the short text
    * plus a token boundary (space or end). The block join ships 32-byte
    * keys; a boilerplate-intro hot block is quadratic in block size —
    * choose `n` long enough that sharing the first n tokens is already
    * evidence (cf. [[duplicatedSpans]]' df discipline).
    * Output: (short_id, long_id), distinct, short strictly shorter. */
  def prefixDuplicates(docs: DataFrame, n: Int = 15): DataFrame = {
    require(n >= 1, "need at least a 1-token blocking prefix")
    val keyed = docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("__ts"))
      .filter(size(col("__ts")) >= n)
      .select(col("doc_id"), col("text"), size(col("__ts")).as("__nt"),
        md5(array_join(slice(col("__ts"), 1, n), " ")).as("__k"))
    val a = keyed.select(col("__k"), col("doc_id").as("short_id"),
      col("text").as("__st"), col("__nt").as("__sn"))
    val b = keyed.select(col("__k"), col("doc_id").as("long_id"),
      col("text").as("__lt"), col("__nt").as("__ln"))
    a.join(b, Seq("__k"))
      .filter(col("__sn") < col("__ln"))
      // token-boundary prefix: the long text continues with " " after the
      // short text (a short doc ending mid-token of the long one is NOT a
      // truncation of it)
      .filter(col("__lt").startsWith(concat(col("__st"), lit(" "))))
      .select(col("short_id"), col("long_id"))
      .distinct()
  }

  /** Distinct word-n-gram shingles: (doc_id, shingle). Docs with fewer than
    * n tokens produce no shingles (and thus never appear in candidates). */
  def shingleSet(docs: DataFrame, n: Int = 3): DataFrame =
    shingleRows(docs, n).distinct()

  /** Every word n-gram occurrence (doc_id, s), NOT distinct — the one
    * tokenize+explode the shingle consumers start from. */
  private def shingleRows(docs: DataFrame, n: Int): DataFrame =
    tokenized(docs).select(col("doc_id"), explode(shinglesOrEmpty(col("ts"), n)).as("s"))

  /** [[shingleSet]] keyed by span HASH: md5 applied BELOW the distinct,
    * so the dedup exchange ships (doc_id, 32-byte hash) instead of
    * (doc_id, n-token span text) — at n=15 that is ~4× less shuffle
    * volume for the long-span family, which never reads span text again.
    * Two distinct spans of one doc colliding under md5 would count as
    * one — the same 2⁻¹²⁸ equivalence the whole span family already
    * accepts by aggregating on h. */
  private def spanHashSet(docs: DataFrame, n: Int): DataFrame =
    shingleRows(docs, n).select(col("doc_id"), md5(col("s")).as("h")).distinct()

  /** Universal-hash family parameters for MinHash: h_i(x) = (a_i·x + b_i)
    * mod P over x = md5-derived base hash reduced mod P. One md5 per
    * shingle instead of k — the oracle SQL is GENERATED from these same
    * constants (ExtensionQueries), so both engines share the family. */
  val minhashP: Long = 1000000007L
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (1 to k).map { i =>
      // multiplier must be non-zero MOD P (a ≡ 0 would collapse the whole
      // dimension to the constant b); oddness is irrelevant mod an odd prime
      val a = (i * 2654435761L) % minhashP
      (if (a == 0L) 1L else a, (i * 40503L) % minhashP)
    }

  /** MinHash signatures: doc_id, h0..h{k-1} where h_i = min over shingles
    * of the i-th affine hash of the shingle's base hash. One md5 + one
    * conv per posting (not k md5s), then ONE groupBy(doc_id) shuffle.
    *
    * Deliberately does NOT dedupe shingles first ([[shingleSet]]'s
    * `.distinct()`): `min` is duplicate-insensitive, so the signature is
    * bit-identical either way, and skipping the distinct removes a whole
    * Exchange of (doc_id, raw shingle TEXT) — the signature build's only
    * shuffle is the groupBy, whose map-side partial aggregation reduces
    * each scan partition to k longs per resident doc before anything
    * crosses the network. At 100 TB that is the difference between
    * shuffling the tokenized corpus once and shuffling k·8 bytes per
    * (doc, partition). */
  def minhashSignatures(docs: DataFrame, n: Int = 3, k: Int = 12): DataFrame =
    minhashSignaturesFromShingles(shingleRows(docs, n), k)

  /** Signature build over ANY (doc_id, s) shingle-row frame (distinct or
    * not — min doesn't care): lets composites that already hold a
    * materialized shingle frame ([[jaccardEstimateError]]) derive
    * signatures from it instead of re-tokenizing the corpus. */
  private def minhashSignaturesFromShingles(rows: DataFrame, k: Int): DataFrame = {
    val base = rows.withColumn("h",
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long") % minhashP)
    val mins = minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % minhashP).as(s"h$i")
    }
    base.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Banded LSH rows (doc_id, band, bh) from a signature frame — ONE
    * definition of the banding rule, shared by the full-corpus self-join
    * ([[bandPairs]]) and the incremental new-vs-corpus probe
    * ([[lshCandidatePairsAgainst]]), so the two cannot drift. */
  private def bandRows(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    // ONE scan of the signature frame with a posexplode over the `bands`
    // band hashes, not a `bands`-way union (which re-scanned the frame —
    // and at production scale the signature STORE — once per band and
    // stacked `bands` partial stages under the bucket join; guide §2.4
    // "remove passes"). posexplode's position IS the band index, so the
    // rows are bit-identical to the union formulation.
    val bhs = (0 until bands).map { b =>
      md5(concat_ws("|", (0 until r).map(j => col(s"h${b * r + j}")): _*))
    }
    sig.select(col("doc_id"), posexplode(array(bhs: _*)).as(Seq("band", "bh")))
  }

  /** THE blocking self-join of every candidate generator (LSH bands,
    * SimHash segments, rare-shingle postings, embedding sub-blocks,
    * linkage blocks, term postings): rows sharing all `keys` pair up,
    * one output row per (pair, shared bucket), `a_id < b_id`. Output:
    * a_id, b_id, the `keys`, and `a_<p>`/`b_<p>` for each `payload`
    * column — the caller adds its own tail (distinct, count, verify).
    *
    * The join is quadratic in bucket membership, so `cap` bounds it:
    * buckets with more than `cap` rows are dropped wholesale (a
    * degenerate bucket — boilerplate, byte-identical clusters, a
    * catch-all blocking key — carries no discriminative signal, and its
    * pairs are exact-dup work). `Long.MaxValue` (no cap) skips the
    * bucket count. */
  private[graft] def bucketPairs(rows: DataFrame, id: String, keys: Seq[String],
                                 payload: Seq[String] = Nil,
                                 cap: Long = Long.MaxValue): DataFrame = {
    val kept =
      if (cap == Long.MaxValue) rows
      else rows.join(rows.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__bc"))
        .filter(col("__bc") <= cap).select(keys.map(col): _*), keys)
    // `a < b` is a filter, not part of the join condition: the planner
    // folds it in AHEAD of any caller filter pushed into the join, so a
    // costly verify predicate (cosine, edit distance) runs on the
    // ordered half of the pairs only
    kept.as("a")
      .join(kept.as("b"), keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _))
      .filter(col(s"a.$id") < col(s"b.$id"))
      .select(Seq(col(s"a.$id").as("a_id"), col(s"b.$id").as("b_id")) ++
        keys.map(k => col(s"a.$k").as(k)) ++
        payload.flatMap(p => Seq(col(s"a.$p").as(s"a_$p"), col(s"b.$p").as(s"b_$p"))): _*)
  }

  /** Distinct LSH candidate pairs (a_id, b_id) over a materialized
    * signature frame: docs sharing any band hash. */
  private def bandPairs(sig: DataFrame, k: Int, bands: Int,
                        cap: Long = Long.MaxValue): DataFrame =
    bucketPairs(bandRows(sig, k, bands), "doc_id", Seq("band", "bh"), cap = cap)
      .select(col("a_id"), col("b_id"))
      .distinct()

  /** LSH candidate pairs: banding the k-wide signature into `bands` rows of
    * r = k/bands; docs sharing any band hash become a candidate pair.
    *
    * `maxBucket` (default off) is the hot-bucket cap of [[bucketPairs]]
    * for corpus scale — the same skew discipline as ngramJaccardPairs'
    * maxDf and embeddingNearDupPairs' cluster cap. Off by default because
    * the fixture contract (x08/x15 oracles) is uncapped.
    *
    * `maxBucketFraction` is the corpus-relative form of `maxBucket`,
    * mirroring [[ngramJaccardPairs]]' `maxDfFraction` one level up: an
    * absolute bucket cap pins the drop threshold to one corpus size
    * (template-family buckets grow ∝ N), while `Some(f)` derives the
    * cap as ceil(f · nDocs) from one count over the already-materialized
    * signature frame — a cluster holding a fixed FRACTION of the corpus
    * is treated the same at every scale. Overrides `maxBucket` when
    * set; `None` (the oracle default) is bit-identical.
    * Output: (a_id, b_id), a_id < b_id, distinct. */
  def lshCandidatePairs(docs: DataFrame, n: Int = 3, k: Int = 12, bands: Int = 4,
                        maxBucket: Int = Int.MaxValue,
                        maxBucketFraction: Option[Double] = None): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    // signatures feed the cap count and the banding: materialize once
    // (localCheckpoint truncates lineage so the shingle explode + groupBy
    // don't re-run per consumer; production would persist to reliable storage)
    val sig = graft.Persist.cut(minhashSignatures(docs, n, k))
    bandPairs(sig, k, bands, resolveBucketCap(sig, maxBucket, maxBucketFraction))
  }

  /** LSH candidate pairs SCORED from the signatures alone: the fraction
    * of agreeing MinHash components is an unbiased estimate of Jaccard
    * similarity (the MinHash theorem: P[h_i(A) = h_i(B)] = J(A,B)), so
    * candidate pairs get a similarity WITHOUT any second pass over the
    * text — at 100 TB the difference between "join two k·8-byte
    * signature rows per pair" and "re-intersect two full shingle sets
    * per pair" ([[ngramJaccardPairs]]' verify stage) is the difference
    * between scoring every candidate and sampling. The trade is
    * variance: k components give σ ≈ √(J(1−J)/k) (~0.14 at k=12,
    * J=0.5), so this ranks/filters coarsely — use it as the cheap
    * middle stage (candidates → signature-scored → exact-verify
    * survivors) or wherever estimated similarity suffices (dup-cluster
    * triage, diversity sampling). Signatures are built ONCE and feed
    * both the banding and the scoring joins; everything shuffled is
    * fixed-width, never text. Integer agreement counts divide once at
    * the end — exact, replayed by the oracle.
    * Output: (a_id, b_id, j_est), a_id < b_id, distinct pairs. */
  def estimatedJaccardPairs(docs: DataFrame, n: Int = 3, k: Int = 12,
                            bands: Int = 4): DataFrame =
    estimatedJaccardPairsFromSigs(
      graft.Persist.cut(minhashSignatures(docs, n, k)), k, bands)

  /** [[estimatedJaccardPairs]]' core over an ALREADY-MATERIALIZED signature
    * frame — lets composites that need both the estimate and another
    * shingle consumer ([[jaccardEstimateError]]) build signatures from one
    * shared shingle pass instead of re-tokenizing the corpus. */
  private def estimatedJaccardPairsFromSigs(sig: DataFrame, k: Int,
                                            bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val cand = bandPairs(sig, k, bands)
    val agree = (0 until k)
      .map(i => when(col(s"sa.h$i") === col(s"sb.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand
      .join(sig.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sig.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"),
        detRound(agree.cast("double") / k, 4).as("j_est"))
  }

  /** Per-document top-k most-similar documents — the "show me this doc's
    * duplicates" explainability read over the LSH index: symmetrize
    * [[estimatedJaccardPairs]] (each undirected candidate pair serves
    * both endpoints as a query) and keep each doc's best `topK` by
    * (j_est DESC, n_id ASC). Ranking uses [[Similarity.topKPerQuery]]'s
    * bounded `graft_top_k` aggregate — NEVER a per-doc window sort, so a
    * boilerplate doc with 10⁶ candidates costs O(k) per-group state, not
    * one sorting task (the same skew discipline as the ANN family).
    * Ties are exact: j_est is an integer agreement count divided once,
    * so equal estimates are bit-equal and the n_id tiebreak is total.
    * Output: q_id, n_id, j_est — ≤ topK rows per q_id that has any
    * candidate (isolated docs emit nothing, deliberately: "no neighbors
    * found" and "below every LSH band" are the same statement here). */
  def topKNeighborDocs(docs: DataFrame, n: Int = 3, k: Int = 12,
                       bands: Int = 4, topK: Int = 5): DataFrame = {
    // both symmetrization branches consume the scored pairs: materialize
    // once (bounded candidate set) or the banding join + signature joins
    // re-run per branch — the plan-duplication twin of guide §2.4
    val sc = graft.Persist.cut(estimatedJaccardPairs(docs, n, k, bands))
    val sym = sc.select(col("a_id").as("q_id"), col("b_id").as("n_id"), col("j_est").as("sim"))
      .unionAll(sc.select(col("b_id").as("q_id"), col("a_id").as("n_id"), col("j_est").as("sim")))
    Similarity.topKPerQuery(sym, topK).withColumnRenamed("sim", "j_est")
  }

  /** INCREMENTAL near-dup candidates: a NEW batch probed against an
    * EXISTING corpus — the daily-ingestion dedup shape. The corpus side
    * takes PRECOMPUTED signatures ([[minhashSignatures]], persisted once
    * and reused every day — at 100 TB, re-shingling the whole corpus per
    * daily batch is the cost this operator exists to avoid; store the
    * signature table bucketed on its band hashes and even the probe
    * shuffle goes away, S9). Only the new batch is shingled; the band
    * join ships (id, band, 32-byte hash) rows, never text. Emits CROSS
    * pairs only — dedup WITHIN the new batch is [[lshCandidatePairs]] on
    * the batch, kept separate so callers can choose (keep the corpus
    * copy, drop the new one) per pair class.
    * Output: (new_id, corpus_id), distinct. */
  def lshCandidatePairsAgainst(newDocs: DataFrame, corpusSigs: DataFrame,
                               n: Int = 3, k: Int = 12, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val newSigs = graft.Persist.cut(minhashSignatures(newDocs, n, k))
    bandRows(newSigs, k, bands)
      .select(col("doc_id").as("new_id"), col("band"), col("bh"))
      .join(bandRows(corpusSigs, k, bands)
        .select(col("doc_id").as("corpus_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
  }

  /** Per-stratum duplication-rate summary over any (new_id, …) pair
    * frame — the monitoring read on top of [[lshCandidatePairsAgainst]]:
    * for each stratum of the new batch (source, language, day…), how
    * many docs arrived, how many collided with the existing corpus, and
    * the rate. This is the number a daily ingestion dashboard alarms on
    * (a source whose dup_rate jumps is re-crawling or being mirrored).
    * Scale: one distinct over pair new_ids (32-byte-hash-derived longs),
    * one broadcast-friendly left join onto the batch, one stratum
    * aggregate. Output: stratum, n_new, n_dup, dup_rate. */
  def dupRateByStratum(newDocs: DataFrame, pairs: DataFrame,
                       stratum: Column): DataFrame = {
    val dup = pairs.select(col("new_id")).distinct()
    newDocs.join(dup, newDocs("doc_id") === dup("new_id"), "left_outer")
      .groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("n_new"), count(col("new_id")).as("n_dup"))
      .select(col("stratum"), col("n_new"), col("n_dup"),
        detRound(col("n_dup").cast("double") / col("n_new"), 4).as("dup_rate"))
  }

  /** Cross-stratum near-duplicate leakage matrix: which sources are
    * copying from which. Every candidate pair (any pair frame with
    * `a_id`/`b_id` columns — LSH, SimHash, or Jaccard output) is joined
    * to its two strata and counted per UNORDERED stratum pair
    * (`least`/`greatest` canonicalization), so the diagonal rows measure
    * within-source duplication and the off-diagonal rows measure
    * cross-source contamination — the report that decides which sources
    * a mixing plan can treat as independent.
    *
    * Scale: the pair frame is already the bounded candidate set (the
    * expensive part was the blocking join that produced it); the two
    * id→stratum joins shuffle only (id, stratum) — never text — and the
    * final aggregate has at most |strata|² groups. */
  def crossStratumPairs(pairs: DataFrame, strata: DataFrame): DataFrame = {
    val sa = strata.toDF("__ida", "__sa")
    val sb = strata.toDF("__idb", "__sb")
    pairs.join(sa, col("a_id") === col("__ida"))
      .join(sb, col("b_id") === col("__idb"))
      .select(least(col("__sa"), col("__sb")).as("stratum_a"),
        greatest(col("__sa"), col("__sb")).as("stratum_b"))
      .groupBy(col("stratum_a"), col("stratum_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Exact duplicated-substring signal at n-token granularity (the third
    * dedup family next to doc-level exact and near-dup: memorization risk
    * comes from REPEATED SPANS, not whole-doc similarity — cf. the
    * exact-substring dedup literature): per document, how many of its
    * distinct n-gram spans occur in >= minDf documents, and the ratio.
    * A high dup_ratio doc is assembled from corpus boilerplate even when
    * no single near-duplicate partner exists. n should be large enough
    * that sharing a span is evidence, not coincidence (15-50 tokens).
    *
    * Scale: one shingle explode (dominant, linear in corpus tokens), one
    * df aggregate (map-side partials absorb hot spans), one join of
    * postings to df + one per-doc aggregate. Spans are HASHED to 32-byte
    * md5 keys before the aggregate/join — a 15-50-token span is ~100-400
    * bytes of text, so hashing cuts the shuffle ~10× at corpus scale;
    * an md5 collision (astronomically unlikely, same tolerance as exact
    * dedup) could overcount one span pair, and the oracle replays the
    * identical hashing.
    * Output: doc_id, dup_spans, total_spans, dup_ratio (docs with < n
    * tokens have no spans and are absent). */
  def duplicatedSpans(docs: DataFrame, n: Int = 15, minDf: Int = 2): DataFrame =
    duplicateShare(graft.Persist.cut(spanHashSet(docs, n)), "spans", minDf)

  /** The duplicate-share fold of [[duplicatedSpans]] and
    * [[Multimodal.duplicateChunks]] / [[Multimodal.cdcDuplicateStats]]
    * over a MATERIALIZED (doc_id, h) unit frame: a hash held by >= minDf
    * rows is duplicated; per doc, how many of its rows carry one, out of
    * how many, and the ratio. What a row counts is the caller's choice:
    * a distinct frame counts each span once per doc (df = holders), a
    * raw one counts every chunk instance (df = occurrences).
    * Output: doc_id, dup_<unit>, total_<unit>, dup_ratio (round 4). */
  private[operators] def duplicateShare(units: DataFrame, unit: String,
                                        minDf: Int): DataFrame = {
    val (dupC, totC) = (s"dup_$unit", s"total_$unit")
    // join postings ONLY against hashes that cleared the df floor: in any
    // real corpus the overwhelming majority of spans/windows are unique,
    // so the postings⋈df join carries only the duplicated minority (the
    // total count needs no join at all)
    val dup = units.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("h"))
    val dupPerDoc = units.join(dup, "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as(dupC))
    perDocShare(units, dupPerDoc, dupC, totC, "dup_ratio")
  }

  /** The per-doc ratio tail of [[duplicateShare]] and [[noveltyScores]]:
    * each doc's unit count (`totC`) left-joined to a (doc_id, `partC`)
    * numerator frame — a doc the numerator lacks counts 0 — and
    * `ratioC` = partC / totC (round 4). */
  private def perDocShare(units: DataFrame, part: DataFrame, partC: String,
                          totC: String, ratioC: String): DataFrame = {
    val n = coalesce(col(partC), lit(0L))
    units.groupBy(col("doc_id")).agg(count(lit(1)).as(totC))
      .join(part, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), n.as(partC), col(totC),
        detRound(n.cast("double") / col(totC), 4).as(ratioC))
  }

  /** First-holder novelty score — [[duplicatedSpans]]' complement: the
    * fraction of a document's distinct n-token spans that the document
    * INTRODUCED to the corpus (it is the minimum-id holder of the span).
    * The cheap analogue of suffix-array novelty scoring: a near-zero
    * novelty doc is assembled entirely from text the corpus already had
    * and contributes nothing to training; ordering by id makes the score
    * deterministic and means "novel relative to everything ingested
    * before me" under an id-ordered ingest.
    *
    * Scale: one explode, then ONLY aggregates — the span-keyed min-holder
    * frame re-aggregates by holder into doc-sized counts, so nothing
    * |spans|-sized is ever joined (cf. [[duplicatedSpans]], which still
    * joins postings, but only for the duplicated minority). Output:
    * doc_id, novel_spans, total_spans, novelty (round 4; docs with < n
    * tokens absent). */
  def noveltyScores(docs: DataFrame, n: Int = 15): DataFrame = {
    val sh = graft.Persist.cut(spanHashSet(docs, n))
    // the min-holder aggregate ALREADY attributes each span to exactly one
    // doc, so per-doc novel counts re-aggregate that span-keyed frame
    // directly — no postings⋈holders join over |spans| rows, only two
    // doc-sized frames and a doc-keyed join
    val novel = sh.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("novel_spans"))
    perDocShare(sh, novel, "novel_spans", "total_spans", "novelty")
  }

  /** The span index [[noveltyAgainst]] probes: distinct 32-byte span
    * hashes of everything already ingested. Build once, persist, append
    * each day's new spans — the incremental sibling of x38's signature
    * store. */
  def spanIndex(docs: DataFrame, n: Int = 15): DataFrame =
    spanHashSet(docs, n).select(col("h")).distinct()

  /** Incremental [[noveltyScores]]: score a DAILY BATCH against the
    * persisted [[spanIndex]] instead of re-shingling the whole corpus —
    * novel means "no prior document ever contained this span". This is
    * the form a daily ingest actually runs (the batch is new by
    * definition, so within-batch first-holders are not consulted —
    * matching the x38 incremental-dedup convention).
    *
    * Scale: only the BATCH explodes; the probe join ships 32-byte hashes
    * both ways. The index projection is re-distinct-ed here — a dup hash
    * in a left join would MULTIPLY batch rows — which is what lets the
    * index live as an append-only store (one file set per ingest batch,
    * never rewritten) instead of requiring a compacted rewrite per day.
    * Output: doc_id, novel_spans, total_spans, novelty (round 4). */
  def noveltyAgainst(batch: DataFrame, index: DataFrame, n: Int = 15): DataFrame = {
    val sh = spanHashSet(batch, n)
    sh.join(index.select(col("h")).distinct().withColumn("__seen", lit(1)),
        Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(when(col("__seen").isNull, 1)).as("novel_spans"),
        count(lit(1)).as("total_spans"))
      .select(col("doc_id"), col("novel_spans"), col("total_spans"),
        detRound(col("novel_spans").cast("double") / col("total_spans"), 4).as("novelty"))
  }

  /** Cross-document boilerplate REMOVAL — the transform the span family's
    * detectors ([[duplicatedSpans]], [[noveltyScores]]) feed: any n-token
    * span appearing in more than `maxDf` DISTINCT documents is boilerplate
    * (site chrome, licence blurbs, navigation text), every token position
    * it covers is dropped, and each document is reassembled from its
    * surviving tokens in order — the C4-style clean step a pre-training
    * corpus runs between dedup and packing.
    *
    * Scale shape: the df aggregate is the one corpus-sized shuffle and it
    * ships (32-byte hash, doc_id) pairs, never span text. The
    * postings⋈boilerplate join then carries only occurrences of the tiny
    * df-cleared minority (in a real corpus almost all n-gram spans are
    * unique), and coverage explodes those occurrences n-fold — bounded by
    * n·|boilerplate postings|, not the corpus. The final reassembly is a
    * doc-keyed aggregate producing rows the size of the input documents —
    * the output itself, irreducible. Skew-safe: a viral span's postings
    * spread over its holders' doc_id-keyed partitions at the anti-join.
    *
    * Determinism: positions are exact integers; reassembly sorts on the
    * in-doc position, so the result is byte-stable and the DuckDB oracle
    * replays it with string_agg(... ORDER BY pos). A document whose every
    * token is covered stays in the output with n_kept = 0 and empty
    * clean_text (the left join from the full doc list) — dropped-to-empty
    * docs are a signal a curation funnel wants to SEE, not lose.
    * Output: doc_id, n_kept, n_removed, clean_text. */
  def stripBoilerplate(docs: DataFrame, n: Int = 5, maxDf: Int = 2): DataFrame = {
    val toks = tokenized(docs)
    // occ feeds the df aggregate AND the coverage join: one materialized
    // pass instead of re-tokenizing the corpus per consumer
    val occ = graft.Persist.cut(spanOccurrences(toks, n))
    val bp = occ.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf).select(col("h"))
    stripCovered(toks, occ, bp, n)
  }

  /** The additive store behind [[stripBoilerplateAgainst]]: per-span
    * distinct-document counts over everything already ingested. Counts
    * are additive over disjoint ingest batches (a document holds its
    * spans once, and doc_ids never recur across batches), so the daily
    * maintenance is `index ∪ boilerplateIndex(batch) → sum by h` — an
    * append-plus-compact over (hash, count) pairs, never a re-scan of
    * history (the [[spanIndex]]/x38 convention with a count payload). */
  def boilerplateIndex(docs: DataFrame, n: Int = 5): DataFrame =
    spanOccurrences(tokenized(docs), n)
      .select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))

  /** Incremental [[stripBoilerplate]]: clean a DAILY BATCH against the
    * persisted [[boilerplateIndex]] — a span is boilerplate when its
    * historical holders plus its distinct batch holders clear `maxDf`,
    * so a phrase that goes viral WITHIN the batch is caught the same day
    * even if history never saw it. Only the batch tokenizes, explodes,
    * and reassembles; the index contributes (hash, count) pairs to one
    * hash-keyed outer join — nothing history-sized ever rescans.
    * Output: doc_id, n_kept, n_removed, clean_text (batch docs only). */
  def stripBoilerplateAgainst(batch: DataFrame, index: DataFrame,
                              n: Int = 5, maxDf: Int = 2): DataFrame = {
    val toks = tokenized(batch)
    val occ = graft.Persist.cut(spanOccurrences(toks, n))
    val batchDf = occ.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("__bdf"))
    val bp = batchDf
      .join(index.select(col("h"), col("df").as("__idf")), Seq("h"), "full_outer")
      .filter(coalesce(col("__bdf"), lit(0L)) + coalesce(col("__idf"), lit(0L)) > maxDf)
      .select(col("h"))
    stripCovered(toks, occ, bp, n)
  }

  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), rawTokens(col("text")).as("ts"))

  /** Every n-shingle occurrence of a [[tokenized]] frame with its 0-based
    * position: (doc_id, pos, col), NOT distinct — the one positional frame
    * the span strip, the pair diff and the two run detectors read. */
  private def positionalShingles(toks: DataFrame, n: Int): DataFrame =
    toks.select(col("doc_id"), posexplode(shinglesOrEmpty(col("ts"), n)))

  /** Every span occurrence with its 1-based start: (doc_id, i, h). NOT
    * distinct — within-doc repeats each cover their own positions. */
  private def spanOccurrences(toks: DataFrame, n: Int): DataFrame =
    positionalShingles(toks, n)
      .select(col("doc_id"), (col("pos") + 1).as("i"), md5(col("col")).as("h"))

  /** Shared strip-and-reassemble core: drop every token position covered
    * by an occurrence of a boilerplate hash and stitch survivors back in
    * position order. The covered positions aggregate into ONE array per
    * AFFECTED doc (bounded by doc length), so the only join is doc-keyed
    * with an affected-docs build side, and the strip itself is a narrow
    * per-row HOF — no corpus-wide token posexplode, no |tokens|-row
    * anti-join, no collect_list reassembly shuffle. Untouched docs pass
    * through the left join with a null coverage array. */
  private def stripCovered(toks: DataFrame, occ: DataFrame, bp: DataFrame,
                           n: Int): DataFrame = {
    val covArr = occ.join(bp, "h")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + lit(n - 1))).as("pos"))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("__cov"))
    toks.join(covArr, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("ts"),
        coalesce(col("__cov"), array().cast("array<int>")).as("__cov"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("__total"),
        expr("""filter(transform(sequence(1, size(ts)), i ->
                  IF(array_contains(__cov, i), NULL, element_at(ts, i))),
                x -> x IS NOT NULL)""").as("__kept"))
      .select(col("doc_id"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__total") - size(col("__kept"))).as("n_removed"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  /** K-minimum-values (KMV) distinct-shingle estimate per stratum — the
    * sketch answer to "how much distinct content does each source
    * contribute", the capacity-planning / mix-sizing number that an
    * exact per-source COUNT(DISTINCT shingle) pays a corpus-wide
    * distinct shuffle for. KMV keeps each stratum's k smallest shingle
    * hashes; with U the k-th smallest of hashes uniform on [0, 2^60),
    * est = (k−1)·2^60/U — standard error ~1/√k, 12.5% at k = 64 (the
    * default; raise k for tighter bands). A stratum with fewer than k
    * distinct shingles keeps them ALL and reports the exact count — the
    * sketch degrades to truth, never to noise.
    *
    * Everything is deterministic (md5-derived integer hashes, exact
    * integer k-th minimum, one double expression at the end), so unlike
    * HLL sketches this estimate is REPLAYABLE by the SQL oracle.
    * Mergability is the production point: per-day/per-shard sketches
    * union and re-take-min-k into the combined sketch without touching
    * raw data — store (stratum, mins) and the daily merge is k values
    * per stratum per day.
    *
    * Scale shape: see [[kmvSketch]] — one bounded `graft_min_k`
    * aggregate per stratum, no window, O(k) per-group state.
    * Output: stratum, n_sketch, est_distinct (round 4). */
  def kmvEstimates(docs: DataFrame, stratum: Column, n: Int = 3,
                   k: Int = 64): DataFrame =
    kmvEstimateOf(kmvSketch(docs, stratum, n, k), k)

  /** The KMV sketch itself: (stratum, mins ARRAY<LONG>) — the k smallest
    * distinct shingle hashes per stratum, the form a sketch STORE holds.
    * Multiset discipline: the sketch is a SET of hash VALUES (collect_set),
    * so two distinct shingles colliding on the 60-bit prefix collapse to
    * one entry — the KMV estimator's own model (distinct uniform hashes),
    * and the convention the x74/x76 oracles replay (DISTINCT u).
    * Min-k is associative and idempotent, so per-day/per-shard sketches
    * [[kmvMerge]] into exactly the sketch of the union — build daily,
    * merge nightly, never re-read history. */
  def kmvSketch(docs: DataFrame, stratum: Column, n: Int = 3,
                k: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2 (the estimator divides by the k-th minimum)")
    // NO pre-aggregation `.distinct()` (the minhashSignatures discipline):
    // graft_min_k dedups hash VALUES in its partial and final buffers, so
    // no corpus-sized Exchange of (stratum, shingle TEXT) is needed
    // (guide §2.4). Its k-bound holds DURING accumulation, so per-group
    // state is O(k) and each task's partial aggregate ships ≤ k longs
    // per stratum. The md5 trade: one hash per shingle OCCURRENCE instead of
    // per distinct (stratum, s) — pure codegen'd per-row work that scales
    // out, vs a shuffle that scales with the corpus.
    val u = docs
      .select(stratum.as("stratum"), rawTokens(col("text")).as("ts"))
      .select(col("stratum"), explode(shinglesOrEmpty(col("ts"), n)).as("s"))
      .select(col("stratum"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("u"))
    u.groupBy(col("stratum"))
      .agg(graft.GraftFunctions.minK(u, col("u"), k).as("mins"))
  }

  /** Merge any number of [[kmvSketch]] frames (unioned) back into one
    * sketch per stratum: min-k of the union of mins. Per-stratum state is
    * k × #input sketches — a year of daily sketches is thousands of
    * longs, never corpus-sized. */
  def kmvMerge(sketches: DataFrame, k: Int = 64): DataFrame =
    sketches.select(col("stratum"), explode(col("mins")).as("u"))
      .groupBy(col("stratum"))
      .agg(graft.GraftFunctions.minK(sketches, col("u"), k).as("mins"))

  /** Pairwise stratum OVERLAP from KMV sketches alone — the cross-source
    * content-overlap matrix ([[crossStratumPairs]]' question) answered
    * WITHOUT any join over documents: for strata A, B the k smallest
    * hashes of A∪B are computable from the two sketches (min-k is
    * mergeable), and the fraction of them present in BOTH sketches is an
    * unbiased estimate of Jaccard(A, B) — the standard KMV set-operation
    * estimator, stderr ~1/√k. When the merged union holds fewer than k
    * values both sketches are EXACT sets and the formula degenerates to
    * exact Jaccard (same degradation contract as [[kmvEstimateOf]]).
    *
    * Scale: the pair join is |strata|² rows of k longs each — dashboard-
    * sized however large the corpus; every array op runs on k-bounded
    * arrays. Deterministic and oracle-replayable end to end.
    * Output: (stratum_a, stratum_b, j_est), stratum_a < stratum_b. */
  def kmvOverlap(sketches: DataFrame, k: Int = 64): DataFrame = {
    // both sides of the stratum self-join consume the sketch frame:
    // materialize once (|strata| rows of k longs — tiny at any corpus
    // scale) so a lineage-borne sketch build doesn't execute twice
    val sk = graft.Persist.cut(sketches)
    val a = sk.select(col("stratum").as("stratum_a"), col("mins").as("__ma"))
    val b = sk.select(col("stratum").as("stratum_b"), col("mins").as("__mb"))
    a.join(b, col("stratum_a") < col("stratum_b"))
      .select(col("stratum_a"), col("stratum_b"), col("__ma"), col("__mb"),
        slice(array_sort(array_union(col("__ma"), col("__mb"))), 1, k).as("__u"))
      .select(col("stratum_a"), col("stratum_b"),
        // detRound: small-integer quotient — exact-half class
        detRound(size(array_intersect(array_intersect(col("__u"), col("__ma")), col("__mb")))
          .cast("double") / size(col("__u")), 4).as("j_est"))
  }

  /** The estimator read over a sketch: fewer than k values means the
    * sketch IS the exact distinct set (est = count); at k the k-th
    * minimum U of hashes uniform on [0, 2^60) gives (k−1)·2^60/U. */
  def kmvEstimateOf(sketch: DataFrame, k: Int = 64): DataFrame =
    sketch.select(col("stratum"),
      size(col("mins")).cast("long").as("n_sketch"),
      when(size(col("mins")) < k, size(col("mins")).cast("double"))
        // detRound: (k−1)·2^60/U is a rational quotient of exact values
        .otherwise(detRound(lit((k - 1).toDouble) * lit(math.pow(2.0, 60)) /
          element_at(col("mins"), k).cast("double"), 4)).as("est_distinct"))

  /** SimHash fingerprint (`bits` wide, default 16): per token, bit j is the
    * parity of hex digit j of the token's hash; tokens vote +1/-1 per bit
    * and the sign of the sum sets the fingerprint bit. Frequency-weighted
    * (every token occurrence votes). Up to 32 bits one md5 supplies the
    * votes (the x09/x17-pinned family); 33-64 bits switch to ONE
    * sha2-256 — 64 hex digits from a single hash, so the production
    * 64-bit shape (16-bit pigeonhole keys in [[simhashNearDupPairs]])
    * costs one hash per token occurrence, same as 32-bit. Bit 63 is the
    * long's sign bit: 64-bit fingerprints can be negative, which is fine —
    * banding masks after an arithmetic shift (identical in Spark and
    * DuckDB) and hamming is popcount-of-XOR, both sign-agnostic. */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    require(bits <= 64, "one sha2-256 supplies at most 64 hex-digit votes")
    // The per-token vote vector (parity of each hex digit) is packed into
    // ONE long by the codegen'd graft_hex_parity_mask expression — a
    // single byte loop over the hash string. The two prior formulations
    // both made the fingerprint stage, not the pair join, the dominant
    // cost at 64 bits: per-digit substring ops (bits string ops per token
    // row), then conv-packed 15-digit words (5 string-to-long parses per
    // token, measured ~40% of the build). Mask bit j = vote of digit j.
    val hexCol = if (bits <= 32) md5(col("t")) else sha2(col("t"), 256)
    val tok0 = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val tok = tok0.select(col("doc_id"),
      graft.GraftFunctions.hexParityMask(tok0, hexCol).as("__m"))
    def parity(j: Int): Column =
      shiftright(col("__m"), j).bitwiseAND(lit(1L))
    // votes are accumulated as 0/1 parity sums plus ONE token count —
    // v_j = 2·ones_j − n, so the sign test "v_j > 0" is "2·ones_j > n":
    // same fingerprint, `bits` fewer multiply-subtracts per token row in
    // the aggregate's codegen (measurably ~15% off the 64-bit build)
    val votes = (0 until bits).map(j => sum(parity(j)).as(s"v$j")) :+
      count(lit(1)).as("__n")
    val agg = tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val fp = (0 until bits)
      .map(j => when(col(s"v$j") * 2 > col("__n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc_id"), fp.cast("long").as("fingerprint"))
  }

  /** SimHash near-duplicate pairs via multi-index (pigeonhole) blocking:
    * the `bits`-wide fingerprint is cut into maxHamming+1 equal segments —
    * any pair within `maxHamming` differing bits must agree EXACTLY on at
    * least one segment (pigeonhole), so blocking on (segment index,
    * segment value) finds every qualifying pair while joining only
    * same-segment buckets, never all pairs (the classic multi-index
    * simhash scheme for web-scale dedup). Verification is an exact
    * popcount on the XOR — cheap, codegen'd, oracle-replayable.
    *
    * Candidate volume is ~|corpus|²/2^w per band (w = bits/(maxHamming+1)
    * segment width), so fingerprint WIDTH is the scale lever: 32-bit
    * fingerprints give 8-bit keys (256 buckets per band); the production
    * shape at corpus scale is bits=64 (one sha2-256 per token, see
    * [[simhash]]) giving 16-bit keys — 65k buckets per band, ~256× fewer
    * candidates per band on a uniform corpus at the same one-hash cost.
    * Output: (a_id, b_id, hamming), a_id < b_id, hamming <= maxHamming. */
  def simhashNearDupPairs(docs: DataFrame, bits: Int = 64,
                          maxHamming: Int = 3): DataFrame =
    pigeonholePairs(
      simhash(docs, bits).select(col("doc_id").as("id"), col("fingerprint")),
      bits, maxHamming)

  /** Pigeonhole-blocked near-dup pairs for ANY `bits`-wide fingerprint
    * frame (id, fingerprint) — THE one definition of the multi-index
    * banding arithmetic, shared by the text path
    * ([[simhashNearDupPairs]]) and the embedding path
    * ([[Similarity.srpNearDupPairs]] — sign-random-projection bits), so
    * the two families cannot drift. See [[simhashNearDupPairs]] for the
    * candidate-volume / key-width scale analysis; everything here ships
    * (id, band, key) longs, never payloads.
    *
    * `maxBucket` (default off) is the [[bucketPairs]] hot-bucket cap
    * over the segment buckets: a mega-cluster of byte-identical inputs
    * shares EVERY band key, and those clusters are exact-dup work (the
    * x118 cascade runs byte-exact dedup FIRST, precisely so the
    * near-dup stage never sees them). Off by default: the
    * x17/x20/x69 fixture oracles are uncapped. `maxBucketFraction` is
    * the corpus-relative form (see [[lshCandidatePairs]]).
    * Output: (a_id, b_id, hamming), a_id < b_id, hamming <= maxHamming. */
  def pigeonholePairs(fp0: DataFrame, bits: Int, maxHamming: Int,
                      maxBucket: Int = Int.MaxValue,
                      maxBucketFraction: Option[Double] = None): DataFrame = {
    val blocks = maxHamming + 1
    require(bits % blocks == 0, s"bits=$bits must split into ${blocks} equal segments")
    val w = bits / blocks
    // fingerprints feed the cap count and the banding: materialize once
    val fp = graft.Persist.cut(fp0)
    val cap = resolveBucketCap(fp, maxBucket, maxBucketFraction)
    // ONE scan with a posexplode over the `blocks` segment keys, not a
    // `blocks`-way union of re-scans (the bandRows discipline — §2.4);
    // posexplode's position IS the band index, rows bit-identical.
    val keys = (0 until blocks).map { i =>
      // mask in LONG: (1 << 32) wraps to 1 in Int, which would collapse
      // every fingerprint into key=0 for maxHamming=0
      shiftright(col("fingerprint"), i * w).bitwiseAND(lit((1L << w) - 1))
    }
    val banded = fp.select(col("id"), col("fingerprint"),
      posexplode(array(keys: _*)).as(Seq("band", "key")))
    bucketPairs(banded, "id", Seq("band", "key"), Seq("fingerprint"), cap)
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fingerprint").bitwiseXOR(col("b_fingerprint")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Greedy near-duplicate removal: given candidate pairs (a_id, b_id)
    * with a_id < b_id from any detector (LSH, Jaccard, embedding), keep
    * the lowest-id representative of every duplicate group by dropping all
    * docs that appear on the b side. One distinct + one anti-join — no
    * iteration. Greedy vs true connected components: a doc can be dropped
    * whose own "kept" partner was itself dropped (chained dups) — for
    * dedup purposes that is still safe (every dropped doc had a kept
    * near-duplicate at distance <= 2 hops), the standard trade for
    * avoiding an iterative CC computation at corpus scale. */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("b_id")).distinct(),
      docs("doc_id") === col("b_id"), "left_anti")

  /** Connected-components near-duplicate removal: keep exactly ONE
    * representative — the minimum doc_id — per connected component of the
    * candidate-pair graph (the transitive reading of the Q1 dedup
    * contract, DAG:90-96: one canonical row per entity).
    *
    * vs [[dropNearDuplicates]]: greedy keeps every doc that never appears
    * on a pair's b side, so a doc connected to its component only THROUGH
    * a dropped doc survives (pairs (1,3),(2,3): greedy keeps {1,2}, CC
    * keeps {1}). CC pays iteration for cluster-canonical output.
    *
    * Implementation is iterative min-label propagation PLUS pointer
    * jumping, in pure DataFrame ops: labels start as each node's own id;
    * each round every node adopts the minimum label among itself and its
    * neighbours (one join + one aggregate), then adopts its LABEL's label
    * (path halving — one more join). Neighbor-min alone moves a component
    * minimum one hop per round (O(diameter)); the jump step compounds
    * paths so convergence is O(log diameter) — the default cap of 10
    * covers components with diameter into the hundreds, far beyond real
    * near-dup chains. If the graph still has not converged at `maxIters`,
    * falls back to the greedy answer — still a safe dedup (every dropped
    * doc had a kept near-dup within 2 hops), just not cluster-canonical.
    * No candidate pairs: every doc is kept. */
  def dropNearDuplicatesCC(docs: DataFrame, pairs: DataFrame,
                           maxIters: Int = 10): DataFrame =
    ccKept(docs, pairs, maxIters)._1

  /** The CC keep rule with its greedy fallback, and whether the labels
    * converged: when they did, drop every doc whose label is not itself;
    * otherwise [[dropNearDuplicates]]. */
  private def ccKept(docs: DataFrame, pairs: DataFrame,
                     maxIters: Int): (DataFrame, Boolean) = {
    val (labels, converged) = componentLabels(pairs, maxIters)
    val kept =
      if (converged) docs.join(
        labels.filter(col("id") =!= col("lbl")).select(col("id").as("__drop")),
        docs("doc_id") === col("__drop"), "left_anti")
      else dropNearDuplicates(docs, pairs)
    (kept, converged)
  }

  /** Near-dup cluster-size histogram — the dedup-graph HEALTH read: how
    * many components of each size the candidate graph has. A healthy
    * corpus is dominated by 2-3-doc components; a fat tail (one 10⁵-doc
    * component) means boilerplate is chaining unrelated docs together
    * and the LSH/threshold settings need tightening BEFORE a dedup pass
    * eats the corpus — this is the number to alarm on next to x50's dup
    * rate. Singleton docs (no candidate pair) are not represented; under
    * a non-converged iteration cap the histogram reads FINER than truth
    * (components can only merge with more rounds), the safe direction
    * for an alarm. Cost beyond the shared CC loop: two label-frame
    * aggregates. Output: component_size, n_components. */
  def componentSizeHistogram(pairs: DataFrame, maxIters: Int = 10): DataFrame =
    componentLabels(pairs, maxIters)._1
      .groupBy(col("lbl")).agg(count(lit(1)).as("component_size"))
      .groupBy(col("component_size")).agg(count(lit(1)).as("n_components"))

  /** INCREMENTAL connected components — the daily-cadence form of the CC
    * dedup family: fold a new batch's candidate pairs into EXISTING
    * component labels without re-propagating over the whole historical
    * pair graph. Correctness rests on labels being a CONTRACTION of the
    * old edges: (id → lbl) preserves exactly the old connectivity, so
    * propagating over (old labels as edges) ∪ (new pairs) yields the
    * same components as the full union graph — spec-proven equal to a
    * from-scratch recompute across waves. Cost per day: the loop runs
    * over |nodes| + |new pairs| edges instead of every pair ever found
    * (the [[lshCandidatePairsAgainst]] convention applied to the graph
    * stage; at 100 TB the historical pair set is the thing you must
    * never re-shuffle). Convergence is typically 1-2 rounds since the
    * settled majority of labels is already minimal.
    * Input labels: (id, lbl) — e.g. a persisted prior output; new pairs:
    * (a_id, b_id). Output: (id, lbl) for every node seen so far. */
  def mergeComponentLabels(oldLabels: DataFrame, newPairs: DataFrame,
                           maxIters: Int = 10): DataFrame = {
    val asPairs = oldLabels
      .filter(col("id") =!= col("lbl"))
      .select(col("id").as("a_id"), col("lbl").as("b_id"))
    val selfOnly = oldLabels.filter(col("id") === col("lbl"))
      .select(col("id"), col("lbl"))
    val (labels, _) = componentLabels(
      asPairs.unionByName(newPairs.select(col("a_id"), col("b_id"))), maxIters)
    // nodes whose label was already themselves and who gained no new
    // edge don't appear in the propagation input — carry them through
    labels.unionByName(
      selfOnly.join(labels.select(col("id")), Seq("id"), "left_anti"))
  }

  /** Leakage-safe train/val/test assignment: [[TextAnalysis
    * .deterministicSplit]]'s md5-bucket discipline keyed on each doc's
    * near-dup COMPONENT label instead of its own id. Hashing raw doc_ids
    * scatters a near-dup cluster across splits with probability ~1 per
    * cluster at corpus scale — exactly the train→test contamination x58's
    * leak matrix measures after the fact; keying every member on its
    * component's canonical (minimum) id sends whole clusters to ONE side,
    * so no candidate pair ever straddles a split boundary. Docs in no
    * pair fall back to their own id — identical buckets to the plain
    * split, so adopting the component key only MOVES clustered docs.
    *
    * Scale: the label frame ships (id, lbl) longs (the CC loop's
    * discipline); the split itself is the same narrow md5 arithmetic as
    * x19. On a non-converged iteration cap labels partition FINER than
    * true components — which for THIS operator is the unsafe direction:
    * a cluster split across labels can still straddle a split boundary,
    * the exact leak the operator exists to prevent. So unlike
    * [[dropNearDuplicatesCC]] the flag is SURFACED, not swallowed
    * ([[onNonConverged]]: `warn` by default — log and accept the
    * residual-leak labeling — or `error`, the setting a leakage-audited
    * training run wants).
    * Output: doc_id, split ('train'|'val'|'test'). */
  def splitByComponent(docs: DataFrame, pairs: DataFrame,
                       trainPct: Int = 90, valPct: Int = 5,
                       maxIters: Int = 10): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val (labels, converged) = componentLabels(pairs, maxIters)
    onNonConverged(docs.sparkSession, converged,
      s"splitByComponent: component labels did NOT converge " +
        s"within maxIters=$maxIters — labels partition finer than true " +
        "components and near-dup pairs may straddle split boundaries " +
        "(train/test leakage). Raise maxIters.")
    val keyed = attachLabels(docs, "doc_id", labels, "__k")
    val bucket = md5Mod(col("__k"), lit(100L))
    keyed.select(col("doc_id"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Fixed-iteration PageRank over the (symmetrized) candidate-pair
    * graph — the authority signal on a dup cluster: the member most
    * connected to other members (the canonical page among its mirrors,
    * the template among its instantiations) accumulates rank, which
    * curation can prefer over [[keepBestPerCluster]]'s content score
    * when link structure is the better quality proxy.
    *
    * Scale shape: per iteration, ONE edges⋈ranks join + one aggregate
    * over (id, rank) rows — the standard distributed PageRank; `iters`
    * is FIXED (power iteration, not convergence-polled), so the plan is
    * a static 5-stage chain with no driver round-trips at all. Every
    * node of the symmetric graph has degree >= 1, so there is no
    * dangling-mass correction term.
    *
    * Float discipline (the x37/x41 convention): each edge contribution
    * d·pr(u)/deg(u) is ONE double expression rounded to 10 decimals into
    * DECIMAL(18,10) — summed EXACTLY, order-free, partition-independent.
    * The narrow precision is load-bearing, not frugality: the per-node
    * update adds the base to a SUM-widened decimal(28,10), and with
    * (28,10) inputs that addition's result precision would exceed
    * Spark's 38 cap, where the default precision-loss rule silently
    * DROPS A SCALE DIGIT (the sum re-rounds to 9 decimals) and the
    * engines drift by 1e-10 per node per iteration. At (18,10) every
    * intermediate stays inside 38 and the arithmetic is exact —
    * and the damping complement is printed into the oracle from the same
    * Scala double (`1 - damping`, binary-exact on both engines). The
    * output converts the final decimal to double directly (nearest —
    * deterministic on both engines) with NO further rounding, so no
    * boundary case exists at the output surface.
    * Output: (id, pr) for every node appearing in a pair. */
  def pageRank(pairs: DataFrame, iters: Int = 5,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val edges = undirectedEdges(pairs)
    val deg = graft.Persist.cut(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    // greatest(n, 1): on an edgeless graph the rank frame is empty and the
    // base value is never consumed, but ANSI mode still evaluates (and
    // throws on) the 1/0 inside the eager broadcast — the guard keeps the
    // expression total without touching any non-empty graph (n >= 1 there)
    val n = deg.agg(greatest(count(lit(1)).cast("double"), lit(1.0)).as("n"))
    val base = broadcast(n.select(
      detRound(lit(1 - damping) / col("n"), 10).cast("decimal(18,10)").as("__base")))
    var ranks = deg.crossJoin(broadcast(n))
      .select(col("src").as("id"),
        detRound(lit(1.0) / col("n"), 10).cast("decimal(18,10)").as("pr"))
    // each iteration's ranks frame is consumed EXACTLY ONCE (by the next
    // contribution join), so the chain stays a single lazy plan — one job
    // at the action, `iters` shuffle stages, ZERO per-iteration driver
    // round-trips (the previous per-iteration Persist.cut was 5 extra
    // materialization jobs whose frames nothing read twice); lineage depth
    // is fixed by `iters`, so plan growth is bounded
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks, edges("src") === ranks("id"))
        .join(deg, Seq("src"))
        .select(col("dst"),
          detRound(lit(damping) * col("pr").cast("double") / col("deg"), 10)
            .cast("decimal(18,10)").as("__c"))
      ranks = contrib.groupBy(col("dst").as("id")).agg(sum(col("__c")).as("__s"))
        .crossJoin(base)
        .select(col("id"),
          (col("__base") + col("__s")).cast("decimal(18,10)").as("pr"))
    }
    ranks.select(col("id"), col("pr").cast("double").as("pr"))
  }

  /** Converged min-label component ids for the candidate-pair graph
    * (`a_id`/`b_id` columns) — the ONE CC core behind every component
    * consumer: [[dropNearDuplicatesCC]], [[keepBestPerCluster]],
    * [[splitByComponent]], the audits and [[Linkage.erClusters]]' name
    * graph. Returns ((id, lbl) for every node appearing in a pair,
    * converged?); an edgeless graph gives the (already materialized)
    * empty label frame, converged — every consumer's join or aggregate
    * over it is then its own no-pair answer (all nodes singletons). On a
    * non-converged cap the labels are a FINER partition than the true
    * components (label propagation only merges), which callers must
    * treat as "keep possibly-more representatives", never fewer. */
  private[graft] def componentLabels(pairs: DataFrame,
                                     maxIters: Int): (DataFrame, Boolean) = {
    val edges = undirectedEdges(pairs)
    // round 1 folded into initialization: with all labels starting as own
    // ids, the first propagation is just least(id, min neighbor id) — one
    // aggregate over edges, no join.
    //
    // Label frames are cut LAZILY (Persist.cutLazy): same lineage
    // truncation as the eager cut — each round's plan stays three joins
    // over a checkpoint scan, and callers see a flat plan — but the
    // convergence-sum action below is what materializes the frame, so
    // every loop round costs ONE driver job instead of two in the
    // default and disk persist modes (a plain
    // cache was measured WORSE here: it kept the full candidate-chain
    // lineage in every caller's logical plan and the planning cost ate
    // the saved job). Superseded rounds are reclaimed by the
    // ContextCleaner as before.
    var labels = graft.Persist.cutLazy(
      edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("__mn"))
        .select(col("id"), least(col("id"), col("__mn")).as("lbl")))
    // (emptiness is detected from the first label-sum below — sum() of an
    // empty frame is null — rather than a separate isEmpty action)
    // convergence via the label-sum invariant: labels only ever DECREASE,
    // so the sum is strictly monotone until the fixpoint — one tiny
    // aggregate per round instead of a prev-vs-next join. Decimal sum:
    // a corpus-scale sum of 64-bit ids overflows a long.
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).collect().head.getDecimal(0)
    var prevSum = lblSum(labels)
    // no candidates at all (healthy corpus): the empty frame is the fixpoint
    var converged = prevSum == null
    var i = 0
    while (i < maxIters && !converged) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src").as("nid")).agg(min(col("lbl")).as("nlbl"))
      val propagated = labels.join(nbrMin, labels("id") === col("nid"), "left_outer")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jump: labels are node ids, so re-resolve each label
      // through the PREVIOUS round's (already materialized) label table —
      // path halving with ONE materialization per round instead of two.
      // (Jumping through the freshly-propagated table would need
      // `propagated` materialized first — an extra driver round-trip that
      // costs more than the strictly-weaker jump saves: labels only
      // DECREASE, the fixpoint — per-component minimum — is identical,
      // and the sum-invariant convergence test is unchanged.)
      val jump = labels.select(col("id").as("__jid"), col("lbl").as("__jlbl"))
      val next = graft.Persist.cutLazy(
        propagated.join(jump, propagated("lbl") === col("__jid"), "left_outer")
          .select(propagated("id"),
            least(propagated("lbl"), coalesce(col("__jlbl"), propagated("lbl")))
              .as("lbl")))
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      i += 1
    }
    (labels, converged)
  }

  /** The candidate pairs as an undirected (src, dst) edge frame, shared by
    * [[componentLabels]] and [[pageRank]]. The PAIR frame is materialized
    * before symmetrizing: callers pass the live candidate-generation
    * lineage, and the two union branches would otherwise run it twice.
    * The symmetrized view stays lazy — a union over a materialized frame
    * is narrow, so per-round consumers pay two cheap rescans, never two
    * candidate joins. */
  private def undirectedEdges(pairs: DataFrame): DataFrame = {
    val fwd = graft.Persist.cut(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
    fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** `nodes` with its node's component label as column `as`: labels
    * left-outer-joined on `nodeId`, and a node in no pair labels itself
    * (a singleton component). */
  private[operators] def attachLabels(nodes: DataFrame, nodeId: String,
                                      labels: DataFrame, as: String): DataFrame =
    nodes.join(labels, nodes(nodeId) === labels("id"), "left_outer")
      .select(nodes.columns.map(nodes(_)) :+
        coalesce(labels("lbl"), nodes(nodeId)).as(as): _*)

  /** The one policy for a caller that must not accept a non-converged
    * labeling silently: `spark.graft.cc.onNonConverged` = `warn`
    * (default — log `msg` and go on with the finer labels) | `error`
    * (throw it, telling the operator to raise maxIters). The value is
    * checked on every call, converged or not. */
  private[operators] def onNonConverged(spark: SparkSession, converged: Boolean,
                                        msg: => String): Unit = {
    val policy = graft.Sessions.policy(spark, "spark.graft.cc.onNonConverged",
      "warn", Seq("warn", "error"))
    if (!converged) policy match {
      case "error" => throw new IllegalStateException(msg)
      case _ => org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
  }

  /** Cluster-canonical dedup that keeps the BEST document per near-dup
    * component instead of the lowest id — "best" per `order` (e.g.
    * quality score desc): the curation-grade variant of
    * [[dropNearDuplicatesCC]], because the lowest-id representative of a
    * boilerplate cluster is arbitrary while the highest-quality one is
    * what a training corpus wants to retain. Docs in no pair keep
    * themselves (singleton components). Ties under `order` MUST be
    * broken deterministically — append the id to the order.
    *
    * On a non-converged iteration cap the partial labels are a finer
    * partition than the true components (see [[componentLabels]]): the
    * output may keep more than one representative of a pathological
    * mega-component, never fewer than one — the safe failure direction.
    * Scale: the CC loop ships (id, label) longs; the final selection is
    * one broadcast-friendly label join + one bounded-group window. */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame,
                         order: Seq[Column], maxIters: Int = 10): DataFrame = {
    val labeled = attachLabels(docs, "doc_id", componentLabels(pairs, maxIters)._1, "__lbl")
    Relational.dedupeKeepFirst(labeled, Seq(col("__lbl")), order).drop("__lbl")
  }

  /** Embedding-cosine near-duplicate pairs, IVF-bucketed: vectors are
    * assigned to their nearest centroid (broadcast codebook, no corpus
    * shuffle) and only WITHIN-cluster pairs are scored — |corpus|²/C join
    * volume instead of all-pairs, the scale path for near-dup detection
    * over embeddings. Near-identical vectors co-cluster by construction;
    * pairs straddling a cluster boundary are missed (recall < 1, the
    * standard ANN-blocking trade, cf. ngramJaccardPairs' rare-shingle
    * blocking). Scoring uses the codegen'd graft_cosine.
    *
    * Skew safety: a cluster larger than `maxClusterSize` is split into
    * ceil(size/max) blocks by `md5(vec_id) mod nblocks` — md5, not the
    * raw id, because residue-correlated ids (strided sampling, sharded
    * allocation) would land on a fraction of the residues and silently
    * inflate block sizes by the gcd factor — and only WITHIN-block pairs
    * are scored, the same hot-key discipline as ngramJaccardPairs' maxDf
    * cap. One degenerate cluster (all vectors near one centroid) costs
    * ~max·|cluster| pairs instead of |cluster|², at the price of missing
    * cross-block pairs inside that pathological cluster. The blocking rule
    * is a pure function of (vec_id, cluster size), so the SQL oracle
    * replays it exactly. Pass a [[Similarity.kmeansCodebook]]-style
    * FIXED-SIZE centroid predicate — a codebook proportional to the
    * corpus makes the assign stage quadratic.
    * Output: (a_id, b_id, sim), a_id < b_id, sim >= threshold. */
  def embeddingNearDupPairs(emb: DataFrame, centroidPred: Column,
                            threshold: Double,
                            maxClusterSize: Int = 4096): DataFrame = {
    // assignment feeds both the size count and the pair join: materialize
    // once instead of re-running the broadcast-assign shuffle per consumer
    val assigned = graft.Persist.cut(Similarity.ivfAssign(emb, centroidPred))
    embeddingNearDupPairsFrom(assigned, emb, threshold, maxClusterSize)
  }

  /** SemDeDup-style semantic dedup VERDICT: the per-vector kept/dropped
    * decision over [[embeddingNearDupPairs]]' cluster-blocked candidate
    * graph — cluster the corpus by embedding, then inside each cluster
    * drop every vector that has a LOWER-id near-duplicate above
    * `threshold` (the greedy lowest-id-representative rule, the
    * embedding-space twin of [[dropNearDuplicates]]; one distinct + one
    * left join, no iteration). The paper's pipeline (k-means → within-
    * cluster cosine → keep one per duplicate group) maps exactly: pass a
    * [[Similarity.kmeansCodebook]] predicate for the clustering, and the
    * greedy rule realizes "keep one" deterministically — a dropped
    * vector always has a kept near-dup within 2 hops (the documented
    * [[dropNearDuplicates]] chain bound).
    *
    * Scale: the pair stage inherits embeddingNearDupPairs' whole story —
    * fixed broadcast codebook, within-cluster pairs only, clusters over
    * `maxClusterSize` md5-sub-blocked — and the verdict adds one
    * 8-byte-key distinct (dropped ids) plus one left join against the
    * id column, nothing embedding-width past the pair stage.
    * Output: (vec_id, cluster, kept) for EVERY corpus vector — the
    * audit-friendly shape (filter kept for the survivor list, group by
    * kept for the drop-rate dashboard). */
  def semDedup(emb: DataFrame, centroidPred: Column, threshold: Double,
               maxClusterSize: Int = 4096): DataFrame = {
    val assigned = graft.Persist.cut(Similarity.ivfAssign(emb, centroidPred))
    val dropped = embeddingNearDupPairsFrom(assigned, emb, threshold, maxClusterSize)
      .select(col("b_id")).distinct()
    assigned.select(col("vec_id"), col("cluster"))
      .join(dropped, col("vec_id") === col("b_id"), "left_outer")
      .select(col("vec_id"), col("cluster"), col("b_id").isNull.as("kept"))
  }

  /** SEMANTIC cross-split leakage — the embedding-space completion of
    * the contamination axis (exact substrings, shingle n-grams, and
    * bloom membership read literal reuse; a paraphrased eval answer
    * evades all three but not its embedding). Over
    * [[embeddingNearDupPairs]]' cluster-blocked candidate graph, keep
    * only the pairs that CROSS the train/eval boundary and fold them to
    * the per-eval-id forensics row every benchmark owner asks for:
    * which held-out items have a semantic twin in the training corpus,
    * how many, and how close. `isEval` is any deterministic predicate
    * over the embedding frame's columns (the split rule), so the same
    * report audits hash splits, time splits, or a frozen benchmark
    * table unioned in.
    *
    * Scale shape: the pair stage inherits the blocked discipline
    * (fixed broadcast codebook, within-cluster pairs only, oversized
    * clusters md5-sub-blocked); the split join ships (vec_id, bool)
    * longs against the pair frame's two id columns; the fold is a
    * bounded per-eval-id aggregate. `max(sim)` maximizes the ROUND-4
    * sims the pair stage already emits, so ties are value-identical
    * cross-engine. Output: eval_id, n_train_neardups, max_sim — rows
    * only for CONTAMINATED eval items (clean is absence). */
  def semanticLeakage(emb: DataFrame, centroidPred: Column,
                      threshold: Double, isEval: Column,
                      maxClusterSize: Int = 4096): DataFrame = {
    val pairs = embeddingNearDupPairs(emb, centroidPred, threshold, maxClusterSize)
    val flags = emb.select(col("vec_id"), isEval.as("__ev"))
    pairs
      .join(flags.select(col("vec_id").as("a_id"), col("__ev").as("__ea")), "a_id")
      .join(flags.select(col("vec_id").as("b_id"), col("__ev").as("__eb")), "b_id")
      .filter(col("__ea") =!= col("__eb"))
      .select(when(col("__ea"), col("a_id")).otherwise(col("b_id")).as("eval_id"),
        col("sim"))
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_train_neardups"), max(col("sim")).as("max_sim"))
  }

  /** [[embeddingNearDupPairs]] over a PRECOMPUTED assignment frame
    * (vec_id, embedding, cluster) — the shared core that lets
    * [[semDedup]] reuse one assign pass for both the verdict join and
    * the pair stage instead of re-running the broadcast assign. */
  private def embeddingNearDupPairsFrom(assigned: DataFrame, emb: DataFrame,
                                        threshold: Double,
                                        maxClusterSize: Int): DataFrame = {
    val sizes = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("csz"))
    val blocked = assigned.join(broadcast(sizes), Seq("cluster"))
      .withColumn("__blk", md5Mod(col("vec_id"),
        floor((col("csz") + lit(maxClusterSize - 1)) / lit(maxClusterSize)).cast("long")))
    bucketPairs(blocked, "vec_id", Seq("cluster", "__blk"), Seq("embedding"))
      .select(col("a_id"), col("b_id"),
        round(graft.GraftFunctions.cosine(emb, col("a_embedding"), col("b_embedding")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Benchmark decontamination: (corpus doc, benchmark doc) pairs sharing
    * at least `minShared` distinct word n-grams — the eval-leakage check
    * every training corpus needs before a benchmark means anything.
    *
    * Same blocking discipline as [[ngramJaccardPairs]]: only
    * corpus-rare shingles (df <= maxDf) join, bounding the match join at
    * |bench shingles|·maxDf; a templated shingle hot across the corpus
    * carries no contamination signal anyway. The benchmark side is
    * BROADCAST — benchmark suites are thousands of documents by
    * construction, never corpus-sized. Counting shared distinct shingles
    * (not Jaccard) is the standard decontamination metric: a benchmark
    * QUESTION quoted inside a long training doc must flag even though
    * whole-doc similarity is tiny.
    * Output: (doc_id, bench_id, shared), shared >= minShared. */
  def contaminationPairs(docs: DataFrame, bench: DataFrame, n: Int = 3,
                         minShared: Int = 3, maxDf: Int = 1000): DataFrame = {
    val bs = shingleSet(bench, n).select(col("doc_id").as("bench_id"), col("s"))
    rareShingles(docs, n, maxDf).join(broadcast(bs), "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Corpus shingle postings restricted to rare shingles (df <= maxDf) —
    * THE shared blocking stage of [[contaminationPairs]] and
    * [[contaminationPairsBloom]], one definition so the two variants
    * cannot drift. The shingle set is materialized once (it feeds both
    * the df count and the postings). */
  private def rareShingles(docs: DataFrame, n: Int, maxDf: Int): DataFrame = {
    val cs = graft.Persist.cut(shingleSet(docs, n))
    val dfc = cs.groupBy(col("s")).agg(count(lit(1)).as("df"))
    cs.join(dfc.filter(col("df") <= maxDf).select(col("s")), "s")
  }

  /** [[contaminationPairs]] for benchmark sides too large to BROADCAST
    * (a full eval-suite union, a held-out corpus slice): same blocking,
    * same exact output, but the match join runs as a shuffle join over a
    * corpus side PRE-FILTERED by a bloom sketch of the benchmark
    * shingles — the few-MB sketch rides the task binary, and corpus
    * shingles that cannot match (the overwhelming majority) never enter
    * the exchange. That shuffle-volume cut is the entire point: the
    * sketch's false positives (rate `fpp`) survive the pre-filter but
    * are dropped by the exact join, and false negatives don't exist, so
    * the output is IDENTICAL to [[contaminationPairs]] (spec-asserted,
    * same oracle contract).
    *
    * Mechanics: the sketch is built driver-side over xxhash64(shingle)
    * with the public `DataFrameStatFunctions.bloomFilter` aggregate (one
    * construction-time job over the BENCHMARK side only — never the
    * corpus), serialized, and probed by Spark's native codegen'd
    * bloom-membership expression on the same xxhash64 — build and probe
    * share one hash function by construction. `expectedBenchShingles`
    * sizes the sketch (overshooting costs bytes, undershooting costs
    * fpp). */
  def contaminationPairsBloom(docs: DataFrame, bench: DataFrame, n: Int = 3,
                              minShared: Int = 3, maxDf: Int = 1000,
                              expectedBenchShingles: Long = 1L << 20,
                              fpp: Double = 0.01): DataFrame = {
    // the bench shingles feed the sketch build (an action) and the exact
    // join: materialize once
    val bs = graft.Persist.cut(
      shingleSet(bench, n).select(col("doc_id").as("bench_id"), col("s")))
    val rare = rareShingles(docs, n, maxDf)
    // a bench side with NO shingles has no sketch to build (Spark's
    // sketch aggregate NPEs serializing a zero-row bloom) — and needs
    // none: the exact join against the empty side is already empty, so
    // the prefilter is skipped, not faked
    val pre =
      if (bs.isEmpty) rare
      else {
        val sketch = bs.select(xxhash64(col("s")).as("h"))
          .stat.bloomFilter("h", expectedBenchShingles, fpp)
        val bos = new java.io.ByteArrayOutputStream()
        sketch.writeTo(bos)
        rare.filter(graft.GraftFunctions.bloomContains(
          rare, lit(bos.toByteArray), xxhash64(col("s"))))
      }
    pre.join(bs, "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Asymmetric shingle containment — the QUOTE/SUBSET detector Jaccard
    * structurally misses: C(src→dst) = |S_src ∩ S_dst| / |S_src|, emitted
    * per ORDERED pair with C >= threshold. A short document fully quoted
    * inside a long one has containment ~1.0 in the short→long direction
    * while its Jaccard is ~|short|/|long| — far below any near-dup
    * threshold — so this is the right primitive for "is this doc
    * subsumed by another" (truncations beyond [[prefixDuplicates]]' exact
    * prefix shape, excerpt farms, quote-heavy aggregators).
    *
    * Same blocking + exactness core as [[ngramJaccardPairs]]
    * ([[rareOverlapPairs]], including the corpus-relative `maxDfFraction`
    * form of the cap): candidates must share a RARE (df <= maxDf)
    * shingle, and the hot-shingle correction makes the final
    * intersection EXACT. The pre-prune keeps a pair only while
    * iMax / min(|A|,|B|) >= threshold — an upper bound on the LARGER of
    * the two directed containments, so no qualifying direction is lost
    * (set-algebra implication, like the Jaccard bounds). Both directions
    * of a surviving pair are then scored and filtered independently.
    * Output: (src_id, dst_id, containment round 4), containment >=
    * threshold. */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                       maxDf: Int = 1000,
                       maxDfFraction: Option[Double] = None): DataFrame = {
    // BOTH direction branches of the union below consume `scored`:
    // materialize it once (bounded: pairs surviving the i_max pregate) —
    // without the cut, the df count, the rare blocking join AND the
    // doc-stats aggregate all execute twice, once per union branch
    // (observed as the 58-Exchange x67 plan)
    val scored = graft.Persist.cut(
      rareOverlapPairs(graft.Persist.cut(shingleSet(docs, n)), maxDf, maxDfFraction) {
        (na, nb, iMax) => Seq(iMax / least(na, nb) >= threshold)
      })
    scored.select(col("a_id").as("src_id"), col("b_id").as("dst_id"),
        detRound(col("i") / col("na"), 4).as("containment"))
      .unionByName(scored.select(col("b_id").as("src_id"), col("a_id").as("dst_id"),
        detRound(col("i") / col("nb"), 4).as("containment")))
      .filter(col("containment") >= threshold)
  }

  /** Exact n-gram Jaccard over candidate pairs sharing at least one RARE
    * shingle; emits pairs with similarity >= threshold.
    *
    * Candidate generation (blocking) uses only shingles whose document
    * frequency is <= maxDf: the self-join is quadratic in posting-list
    * length, so one corpus-scale hot 3-gram would otherwise emit billions
    * of pairs. Capping df bounds the join output at |shingles|·maxDf².
    * Verification then computes Jaccard EXACTLY from each candidate's FULL
    * shingle set (array_intersect/size), so the cap cannot distort scores —
    * it can only miss pairs whose overlap consists solely of
    * hotter-than-maxDf shingles, which at threshold>=0.8 requires
    * pathologically templated text (the standard blocking trade-off).
    *
    * `maxDfFraction` is the corpus-RELATIVE form of the cap: an absolute
    * `maxDf` pins the quadratic knee to one corpus size (template
    * shingles have df ∝ N, so the maximum pre-cap candidate volume lands
    * wherever template-df crosses the constant — measured at sf1.0 on
    * the round-10 curve). `Some(f)` derives the cap as ceil(f · nDocs)
    * instead, so a shingle held by a fixed FRACTION of the corpus is
    * either always blocked or always kept as the corpus grows — blocking
    * cost stays ~linear in N (rare shingles have O(1) df) and the knee
    * disappears. Choose f below the smallest template fraction and above
    * expected dup-cluster-size/N. Overrides `maxDf` when set; `None`
    * (the oracle default) keeps the absolute cap bit-identically. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                        maxDf: Int = 1000,
                        maxDfFraction: Option[Double] = None): DataFrame =
    jaccardPairsFromSets(shingleSet(docs, n), threshold, maxDf, maxDfFraction)

  /** Resolve the blocking df cap over a MATERIALIZED element-set frame:
    * the absolute `maxDf` by default; `maxDfFraction = Some(f)` derives
    * ceil(f · nDocs) from one distinct-count job on the (already cut)
    * frame — see [[ngramJaccardPairs]] for why corpus-relative is the
    * production shape. */
  private def resolveDfCap(sets: DataFrame, maxDf: Int,
                           maxDfFraction: Option[Double]): Long =
    maxDfFraction match {
      case Some(f) =>
        require(f > 0.0 && f <= 1.0, s"maxDfFraction must be in (0,1], got $f")
        math.max(1L, math.ceil(f *
          sets.select(col("doc_id")).distinct().count()).toLong)
      case None => maxDf.toLong
    }

  /** The df cap [[jaccardPairsFromSets]] ACTUALLY applies for `docs` at
    * fraction `f` — public so audit artifacts (BlockingAudit) report the
    * same number the resolver derives. The resolver counts distinct
    * doc_id in the MATERIALIZED shingle frame, which excludes docs too
    * short to produce an n-gram; ceil(f · docs.count()) drifts from it
    * on corpora with sub-n-token documents. */
  def resolvedDfCap(docs: DataFrame, n: Int, f: Double): Long =
    resolveDfCap(shingleSet(docs, n), Int.MaxValue, Some(f))

  /** [[resolvedDfCap]]'s twin one level up: the hot-bucket cap
    * [[lshCandidatePairs]] ACTUALLY applies at `maxBucketFraction = f`
    * (a count over the signature frame, one row per shingle-able doc). */
  def resolvedBucketCap(docs: DataFrame, n: Int, k: Int, f: Double): Long =
    resolveBucketCap(minhashSignatures(docs, n, k), Int.MaxValue, Some(f))

  /** Resolve a hot-bucket cap over a MATERIALIZED one-row-per-document
    * frame (signatures/fingerprints): the absolute `maxBucket` by
    * default (`Int.MaxValue` maps to "no cap"); `Some(f)` derives
    * ceil(f · nDocs) from one count job — [[lshCandidatePairs]] /
    * [[pigeonholePairs]]' corpus-relative form, twin of
    * [[resolveDfCap]]. */
  private def resolveBucketCap(rows: DataFrame, maxBucket: Int,
                               maxBucketFraction: Option[Double]): Long =
    maxBucketFraction match {
      case Some(f) =>
        require(f > 0.0 && f <= 1.0, s"maxBucketFraction must be in (0,1], got $f")
        math.max(1L, math.ceil(f * rows.count()).toLong)
      case None =>
        if (maxBucket == Int.MaxValue) Long.MaxValue else maxBucket.toLong
    }

  /** [[ngramJaccardPairs]]' blocking + exact-verify core over ANY
    * (doc_id, s) element-set frame — one definition of the rare-element
    * candidate join, the size-ratio/upper-bound prunes, and the hot-set
    * correction, so every set-similarity consumer (word shingles, CDC
    * chunk hashes — x137) shares the audited shape. Rows must be
    * DISTINCT per (doc_id, s) — the [[shingleSet]] contract. */
  def jaccardPairsFromSets(sets: DataFrame, threshold: Double,
                           maxDf: Int,
                           maxDfFraction: Option[Double] = None): DataFrame =
    // the element set feeds the df count and the df-tagged postings:
    // materialize once instead of re-running the upstream shuffle
    jaccardPairsFromCutSets(
      graft.Persist.cut(sets.select(col("doc_id"), col("s"))),
      threshold, maxDf, maxDfFraction)

  /** [[jaccardPairsFromSets]] over an ALREADY-MATERIALIZED distinct
    * element-set frame — callers that hold a cut shingle frame feeding
    * several consumers ([[jaccardEstimateError]]) skip the second
    * materialization job. The prunes handed to [[rareOverlapPairs]] are
    * EXACT upper bounds, implications of set algebra, so no qualifying
    * pair is lost and the hot-set intersection runs only on survivors:
    *   J <= min(|A|,|B|) / max(|A|,|B|)                (size ratio)
    *   i <= i_rare + min(hotA, hotB)  =>  J <= iMax/(|A|+|B|-iMax) */
  private def jaccardPairsFromCutSets(sh: DataFrame, threshold: Double,
                                      maxDf: Int,
                                      maxDfFraction: Option[Double],
                                      restrictTo: Option[DataFrame] = None): DataFrame = {
    val pairs = rareOverlapPairs(sh, maxDf, maxDfFraction, restrictTo) { (na, nb, iMax) =>
      Seq(least(na, nb).cast("double") / greatest(na, nb) >= threshold,
        iMax / (na + nb - iMax) >= threshold)
    }
    pairs.select(col("a_id"), col("b_id"),
        detRound(col("i") / (col("na") + col("nb") - col("i")), 3).as("j"))
      .filter(col("j") >= threshold)
  }

  /** THE rare-element overlap core of the set-similarity family —
    * [[ngramJaccardPairs]] (via [[jaccardPairsFromCutSets]]) and
    * [[containmentPairs]] — over a MATERIALIZED distinct (doc_id, s)
    * frame: the df cap, the rare-postings self-join that yields each
    * candidate's shared-rare count `i_rare`, one-row-per-doc stats, the
    * caller's prunes `bounds(na, nb, iMax)` over the set sizes and the
    * i_max upper bound of the intersection, and the exact hot-set
    * correction on survivors. The callers differ only in those bounds
    * and the final score. Each bound is its own filter, applied in order
    * (the planner pushes them into the stats join one at a time, so
    * `Seq(a, b)` and `a && b` plan differently).
    * Output: (a_id, b_id, i, na, nb), a_id < b_id, `i` the EXACT
    * intersection size (double), na/nb the two set sizes. */
  private def rareOverlapPairs(sh: DataFrame, maxDf: Int,
                               maxDfFraction: Option[Double],
                               restrictTo: Option[DataFrame] = None)(
                               bounds: (Column, Column, Column) => Seq[Column]): DataFrame = {
    val cap = resolveDfCap(sh, maxDf, maxDfFraction)
    // df is GLOBAL by definition — always aggregated over the full frame,
    // even when the pair enumeration below is restricted
    val dfc = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // `restrictTo = Some(ids)`: enumerate pairs (and per-doc stats) only
    // for the given doc ids. Callers that immediately inner-join the
    // output against a pair set over those docs ([[jaccardEstimateError]])
    // get bit-identical survivors — i_rare is a per-pair count and the
    // docStats row of a doc is independent of other docs — while the
    // quadratic blocking self-join runs on the candidate minority instead
    // of the corpus (guide §3.2: prune the big side before the join). The
    // id list is bounded by the candidate generator's caps: broadcast.
    val scoped = restrictTo.fold(sh)(ids =>
      sh.join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"), "left_semi"))
    // the df-tag join feeds both the blocking postings and the per-doc
    // stats; left LAZY deliberately — each consumer pushes its own df
    // filter/projection into the join (rare gets a df<=cap-pruned build
    // side), which beats materializing the full tagged postings once
    val tagged = scoped.join(dfc, "s")
    val rare = tagged.filter(col("df") <= cap).select(col("doc_id"), col("s"))
    // the blocking join YIELDS the shared-rare-shingle count per pair —
    // aggregating it is both the candidate set and most of the exact
    // intersection, with no per-pair set materialization
    val iRare = bucketPairs(rare, "doc_id", Seq("s"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("i_rare"))
    // per-doc stats in ONE doc_id aggregate: total cardinality, hot count,
    // and the hot-only shingle array for the exactness correction
    // (collect_set drops the nulls the `when` emits for rare shingles;
    // hot sets are bounded: few shingles exceed the cap by definition of
    // a heavy-tail df distribution)
    val docStats = tagged.groupBy(col("doc_id")).agg(
      count(lit(1)).as("c"),
      count(when(col("df") > cap, 1)).as("hc"),
      collect_set(when(col("df") > cap, col("s"))).as("hset"))
    // docStats is one row per document: broadcasting it keeps the
    // candidate pairs from being sort-merge-shuffled twice, which wins as
    // long as the doc count fits a broadcast table — at corpus scales
    // where it doesn't (billions of docs), disable via
    // spark.graft.jaccard.broadcastStats=false and let the planner
    // shuffle-join.
    val bcast = sh.sparkSession.conf
      .get("spark.graft.jaccard.broadcastStats", "true").toBoolean
    def stats(alias: String): DataFrame =
      if (bcast) broadcast(docStats.as(alias)) else docStats.as(alias)
    val withStats = iRare
      .join(stats("da"), col("a_id") === col("da.doc_id"))
      .join(stats("db"), col("b_id") === col("db.doc_id"))
      .select(col("a_id"), col("b_id"), col("i_rare"),
        col("da.c").as("na"), col("db.c").as("nb"),
        (col("i_rare") + least(col("da.hc"), col("db.hc")))
          .cast("double").as("i_max"),
        col("da.hset").as("ha"), col("db.hset").as("hb"))
    bounds(col("na"), col("nb"), col("i_max")).foldLeft(withStats)(_.filter(_))
      .select(col("a_id"), col("b_id"),
        (col("i_rare") + when(size(col("ha")) > 0 && size(col("hb")) > 0,
          size(array_intersect(col("ha"), col("hb")))).otherwise(0))
          .cast("double").as("i"),
        col("na"), col("nb"))
  }

  /** Pair-recall of a candidate/result pair frame against a truth pair
    * frame — THE number the blocking caps trade away (runtime inversion
    * past the df-cap knee is bought by dropping hot shingles from
    * blocking; this measures what that drop costs). Both inputs are
    * (a_id, b_id) frames with a_id < b_id and distinct pairs (the
    * [[ngramJaccardPairs]]/[[lshCandidatePairs]] contract) — but found's
    * distinctness is ENFORCED here, not just documented: a duplicate
    * found pair would multiply truth rows through the left join,
    * inflating both counts, and this is a graded audit primitive fed by
    * arbitrary callers (the dedup is found-key-sized, cheap relative to
    * producing the pairs). One row:
    * (truth_pairs, matched_pairs, recall); recall of an EMPTY truth is
    * 1.0 by convention (nothing to find, nothing missed). Left join on
    * the pair key then count — never a collect; truth-sized shuffle. */
  def pairRecall(found: DataFrame, truth: DataFrame): DataFrame =
    truth.select(col("a_id"), col("b_id"))
      .join(found.select(col("a_id"), col("b_id"))
          .dropDuplicates("a_id", "b_id").withColumn("__hit", lit(1)),
        Seq("a_id", "b_id"), "left")
      .agg(count(lit(1)).as("truth_pairs"), count(col("__hit")).as("matched_pairs"))
      .select(col("truth_pairs"), col("matched_pairs"),
        when(col("truth_pairs") === 0, lit(1.0))
          .otherwise(col("matched_pairs").cast("double") / col("truth_pairs"))
          .as("recall"))

  /** Structure report over a candidate-pair graph (edges `a_id < b_id`,
    * distinct — the [[lshCandidatePairs]] contract): per-node degree,
    * triangle count, and local clustering coefficient `2T/(d(d−1))`.
    * High-clustering nodes sit in dense near-dup communities (template
    * families — CC dedup will collapse them); degree-high/clustering-low
    * nodes are hub FALSE POSITIVES stitching unrelated docs (the pairs a
    * threshold tune should kill before [[dropNearDuplicatesCC]] merges
    * their components).
    *
    * Triangles enumerate once per oriented wedge via two edge self-joins —
    * the standard distributed formulation — but oriented by DEGREE RANK,
    * not id: under id-orientation a hot mid-id node owns indeg·outdeg ≈
    * (d/2)² wedges (quadratic in the hot degree), while rank-orientation
    * (edges point low→high (degree, id)) bounds total wedges by O(m^1.5)
    * (Schank & Wagner 2005) — every wedge pivots on its LOWEST-degree
    * corner. Triangle counts are orientation-invariant, so the SQL oracle
    * keeps the naive id-orientation and the outputs still match exactly.
    * Candidate volume itself is bounded by the generator's df/band caps
    * (the §8.1 LSH bound). The edge frame is persisted once and drives
    * all passes. Clustering rounds to 4 on a double whose
    * numerator/denominator are exact small integers — cross-engine
    * identical.
    * Output: doc_id, degree, triangles, clustering. */
  def pairGraphStats(pairs: DataFrame): DataFrame = {
    val e = graft.Persist.cut(pairs.select(col("a_id"), col("b_id")))
    val deg = graft.Persist.cut(
      e.select(col("a_id").as("id"))
        .unionAll(e.select(col("b_id").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree")))
    // re-orient: u→v iff (deg(u), u) < (deg(v), v); ship (id, degree)
    // pairs only — the orientation join is long-keyed and rank-balanced
    val da = deg.select(col("id").as("a_id"), col("degree").as("__da"))
    val db = deg.select(col("id").as("b_id"), col("degree").as("__db"))
    val ranked = e.join(da, "a_id").join(db, "b_id")
    val oriented = graft.Persist.cut(ranked.select(
      when(struct(col("__da"), col("a_id")) < struct(col("__db"), col("b_id")),
        col("a_id")).otherwise(col("b_id")).as("u"),
      when(struct(col("__da"), col("a_id")) < struct(col("__db"), col("b_id")),
        col("b_id")).otherwise(col("a_id")).as("v")))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.v") === col("e2.u"))
      .join(oriented.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    val triPerNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    deg.join(triPerNode, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        // detRound: 2·tri/(deg·(deg-1)) is a rational quotient of exact
        // integers — it can land on an exact 4-decimal half
        detRound(when(col("degree") >= 2,
            coalesce(col("triangles"), lit(0L)).cast("double") * 2.0 /
              (col("degree").cast("double") * (col("degree") - 1).cast("double")))
          .otherwise(0.0), 4).as("clustering"))
  }

  /** Calibration report for the MinHash Jaccard ESTIMATOR — the
    * self-evaluation that decides whether k signatures are enough before
    * a threshold tune trusts j_est at scale (the x117-for-LSH): per
    * estimate decile, how far is the signature agreement from the exact
    * shingle Jaccard? Pairs are the LSH banding candidates joined against
    * the rare-shingle blocking's exact scores ([[ngramJaccardPairs]] at
    * threshold 0 — every blocked pair, unthresholded); pairs only one
    * blocking surfaces drop (both sides are candidate approximations; the
    * report grades the estimator on the pairs both can see). mean error
    * columns sum ROUNDED values as exact DECIMAL (order-free, x37).
    *
    * Scale shape: both inputs are the audited bounded-candidate chains
    * (band caps resp. maxDf); the join ships (pair, score) rows; the
    * report aggregate has ≤ 10 groups with map-side partials. Bucket
    * membership is decided on the ROUND-4 estimate, cross-engine
    * reproducible. Output: bucket, n_pairs, mean_est, mean_exact, mae
    * (all ROUND 4). */
  def jaccardEstimateError(docs: DataFrame, n: Int = 3, k: Int = 12,
                           bands: Int = 4, maxDf: Int = 1000): DataFrame = {
    // ONE tokenize+shingle pass feeds BOTH chains (was: each chain re-ran
    // its own corpus explode): the exact side needs the DISTINCT element
    // sets, and the signature build is min-aggregation — duplicate-
    // insensitive — so the same cut frame serves both bit-identically.
    val sh = graft.Persist.cut(shingleSet(docs, n))
    // est is cut: it feeds the report join AND (below) the candidate-doc
    // restriction of the exact chain — bounded pair set, never text
    val est = graft.Persist.cut(estimatedJaccardPairsFromSigs(
      graft.Persist.cut(minhashSignaturesFromShingles(sh, k)), k, bands))
    // the report INNER-joins est ⋈ exact on the pair key, so exact-side
    // pairs with no banding candidate can never reach the output:
    // restrict the rare-blocking self-join + docStats to the docs the
    // banding surfaced (df stays GLOBAL — rareOverlapPairs keeps
    // the df aggregate over the full frame), which leaves every surviving
    // (pair, j) bit-identical while the quadratic exact stage runs on the
    // candidate minority instead of the corpus (guide §3.2). Measured at
    // sf0.1: the unrestricted exact side was the query's dominant phase.
    val candDocs = est
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val exact = jaccardPairsFromCutSets(sh, threshold = 0.0, maxDf, None,
      restrictTo = Some(candDocs))
    val d6 = (e: Column) => round(e, 6).cast("decimal(18,6)")
    est.join(exact, Seq("a_id", "b_id"))
      .select(
        least(floor(col("j_est") * lit(10.0)), lit(9.0)).cast("long")
          .as("bucket"),
        col("j_est"), col("j"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(d6(col("j_est"))).as("__se"),
        sum(d6(col("j"))).as("__sx"),
        sum(d6(abs(col("j_est") - col("j")))).as("__sa"))
      .select(col("bucket"), col("n_pairs"),
        detRound(col("__se").cast("double") / col("n_pairs").cast("double"), 4)
          .as("mean_est"),
        detRound(col("__sx").cast("double") / col("n_pairs").cast("double"), 4)
          .as("mean_exact"),
        detRound(col("__sa").cast("double") / col("n_pairs").cast("double"), 4)
          .as("mae"))
  }

  /** Dedup threshold SWEEP — the tuning curve a pipeline reads before
    * committing a near-dup pass: for each candidate threshold, how many
    * scored pairs survive and how many documents they touch. Thresholds
    * that change the doc count by little are safe to tighten; the knee is
    * where the dedup gets aggressive. Input is any scored pair frame
    * (a_id, b_id, `scoreCol`) — [[estimatedJaccardPairs]],
    * [[ngramJaccardPairs]], [[simhashNearDupPairs]] — so one candidate
    * generation pays for the whole curve.
    *
    * Scale shape: the pair frame is persisted once and amplified
    * |thresholds|× against a broadcast threshold list (bounded constant
    * factor); doc counting is one distinct over (threshold, id) longs.
    * Thresholds with no surviving pair still emit (0, 0) rows — a sweep
    * that silently omits its aggressive end reads as "nothing to drop".
    * Output: thr, n_pairs, n_docs, ordered by thr. */
  def dedupSweep(pairs: DataFrame, scoreCol: String,
                 thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val base = graft.Persist.cut(
      pairs.select(col("a_id"), col("b_id"), col(scoreCol).as("__j")))
    val thr = broadcast(base.sparkSession.range(1)
      .select(posexplode(typedLit(thresholds)).as(Seq("idx", "thr"))))
    val f = base.crossJoin(thr).filter(col("__j") >= col("thr"))
    val np = f.groupBy(col("idx")).agg(count(lit(1)).as("__np"))
    val nd = f.select(col("idx"), explode(array(col("a_id"), col("b_id"))).as("id"))
      .distinct()
      .groupBy(col("idx")).agg(count(lit(1)).as("__nd"))
    thr.join(np, Seq("idx"), "left_outer").join(nd, Seq("idx"), "left_outer")
      .select(col("thr"), coalesce(col("__np"), lit(0L)).as("n_pairs"),
        coalesce(col("__nd"), lit(0L)).as("n_docs"))
      .orderBy(col("thr"))
  }

  /** Per-document contamination SCORE against a benchmark set — the
    * graded form of [[contaminationPairs]]' binary verdict (the GPT-3
    * appendix-C discipline: report the FRACTION of a doc's n-grams that
    * appear anywhere in the eval set, then threshold). Pairwise attribution
    * (which bench doc matched) is x26's job; this operator answers "how
    * much of this doc is eval text", which is what a removal policy
    * thresholds on — a doc quoting one bench sentence among a thousand
    * clean ones should survive, and the binary minShared verdict cannot
    * express that.
    *
    * Scale shape: the bench side collapses to its DISTINCT shingle set
    * before the join (eval suites are ≪ corpus, broadcastable by
    * assumption — the [[contaminationPairs]] broadcast contract; for a
    * non-broadcastable bench set, prefilter with
    * [[contaminationPairsBloom]]'s sketch and score only possible
    * matches). The corpus side ships one row per DISTINCT doc shingle
    * into a broadcast-hash lookup — no shuffle beyond the per-doc count
    * aggregate, whose group state is two longs. No df-cap: hot shingles
    * must count here (boilerplate shared with the bench set IS
    * contamination), and the broadcast join's cost is df-independent.
    * Docs with fewer than n tokens have no shingles and are absent
    * (nothing to test — the [[shingleSet]] contract).
    * Output: doc_id, n_shingles, matched, overlap_frac (ROUND 6),
    * flagged (overlap_frac >= threshold, decided on the ROUNDED value so
    * the verdict replays cross-engine). */
  def contaminationScores(docs: DataFrame, bench: DataFrame, n: Int = 3,
                          threshold: Double = 0.2): DataFrame = {
    val frac = detRound(col("matched").cast("double") /
      col("n_shingles").cast("double"), 6)
    benchMatches(shingleSet(docs, n), bench, n)
      .select(col("doc_id"), col("n_shingles"), col("matched"),
        frac.as("overlap_frac"), (frac >= lit(threshold)).as("flagged"))
  }

  /** Packed-sequence dup CO-LOCATION audit — do any training bins
    * contain two members of the same near-dup cluster? Packing (x25)
    * and dedup (x21) are tuned independently, but their COMPOSITION is
    * what the model sees: a duplicated passage twice inside ONE context
    * window is the strongest memorization amplifier a pipeline can
    * accidentally build, and neither operator's own report can see it.
    * One row: bins total, bins holding a same-cluster collision, and
    * the co-located pair count (Σ k·(k−1)/2 over same-(bin, cluster)
    * groups).
    *
    * Scale shape: rides the audited [[graft.operators.TextAnalysis
    * .packSequences]] assignment and the shared CC label loop; the
    * join ships (doc_id, shard, bin) against (id, lbl) longs; group
    * state is counts. Under a non-converged CC cap clusters read finer
    * — co-location is UNDER-counted, the safe direction for an alarm
    * that triggers re-shuffling. No pair graph ⇒ zeros. Output:
    * n_bins, dirty_bins, colocated_pairs. */
  def packedDupColocation(docs: DataFrame, pairs: DataFrame,
                          budgetTokens: Long, shards: Int = 1024,
                          maxIters: Int = 10): DataFrame = {
    // NOT overlapped with the CC loop (measured +35%: the loop's tiny
    // latency-sensitive rounds queue behind the pack job's long stages
    // under FIFO — §2.6 overlap pays only when both chains are long,
    // cf. detectorAgreement)
    val packed = graft.Persist.cut(
      TextAnalysis.packSequences(docs, budgetTokens, shards)
        .select(col("doc_id"), col("shard"), col("bin")))
    val nb = packed.select(col("shard"), col("bin")).distinct()
      .agg(count(lit(1)).as("n_bins"))
    val (labels, _) = componentLabels(pairs, maxIters)
    // `g` feeds two scalar aggregates (dirty bins + colocated pairs):
    // materialize once (bounded: only (bin, cluster) groups with >= 2
    // members) or the packed⋈labels join and groupBy run twice
    val g = graft.Persist.cut(packed
      .join(labels.select(col("id").as("doc_id"), col("lbl")), "doc_id")
      .groupBy(col("shard"), col("bin"), col("lbl"))
      .agg(count(lit(1)).as("__k"))
      .filter(col("__k") >= 2L))
    val dirty = g.select(col("shard"), col("bin")).distinct()
      .agg(count(lit(1)).as("dirty_bins"))
    val pairsN = g.agg(coalesce(
      sum(expr("__k * (__k - 1) div 2")), lit(0L))
      .cast("long").as("colocated_pairs"))
    nb.crossJoin(broadcast(dirty)).crossJoin(broadcast(pairsN))
      .select(col("n_bins"), col("dirty_bins"), col("colocated_pairs"))
  }

  /** Dedup STRATEGY audit — greedy ([[dropNearDuplicates]]) vs
    * connected-components ([[dropNearDuplicatesCC]]) over the SAME pair
    * graph, as one row: how many docs each keeps and how far apart the
    * two policies actually are on this corpus. Greedy keeps a superset
    * of CC by construction (a component's min id never appears on a
    * pair's b side), so `extra_greedy` — chain-middle docs greedy
    * retains that CC collapses — IS the price of skipping the iterative
    * CC pass, priced per corpus instead of argued in the abstract. A
    * near-zero extra says greedy is safe here; a large one says the
    * graph has chains and CC is worth its rounds.
    *
    * Scale shape: both policies ride their audited implementations over
    * ONE persisted pair frame; the report is four scalar aggregates
    * attached by the 1-row-broadcast pattern. The CC side runs
    * [[componentLabels]] ONCE (no re-dispatch through
    * [[dropNearDuplicatesCC]]) and SURFACES its convergence flag:
    * exactly on the long-chain corpora this audit exists for, a
    * non-converged loop falls back to the greedy policy, which would
    * otherwise read as extra_greedy = 0 — "greedy is free" — masking
    * the CC cost. `cc_converged = false` marks kept_cc as the greedy
    * fallback, and `maxIters` is threaded so the caller can buy more
    * rounds. Output: n_docs, n_pairs, kept_greedy, kept_cc,
    * extra_greedy, cc_converged. */
  def dedupStrategyAudit(docs: DataFrame, pairs0: DataFrame,
                         maxIters: Int = 10): DataFrame = {
    val pairs = graft.Persist.cut(pairs0)
    val base = docs.agg(count(lit(1)).as("n_docs"))
    val np = pairs.agg(count(lit(1)).as("n_pairs"))
    val g = dropNearDuplicates(docs, pairs).agg(count(lit(1)).as("kept_greedy"))
    val (cc, converged) = ccKept(docs, pairs, maxIters)
    val c = cc.agg(count(lit(1)).as("kept_cc"))
    base.crossJoin(broadcast(np)).crossJoin(broadcast(g)).crossJoin(broadcast(c))
      .select(col("n_docs"), col("n_pairs"), col("kept_greedy"),
        col("kept_cc"),
        (col("kept_greedy") - col("kept_cc")).as("extra_greedy"),
        lit(converged).as("cc_converged"))
  }

  /** Detector AGREEMENT audit — the MinHash/LSH candidate pairs vs the
    * 64-bit SimHash pairs over the same corpus, as one row: pair counts
    * per detector, the shared set, and their Jaccard overlap. The two
    * families see DIFFERENT notions of "near" (set overlap vs weighted
    * bit profile), and a pipeline running both (the belt-and-suspenders
    * shape at 100 TB) needs to know whether the second detector is
    * adding recall or just cost — an overlap near 1 says drop one; near
    * 0 says they patrol different duplicate classes and both earn their
    * keep.
    *
    * Scale shape: both chains are their audited implementations,
    * persisted once; the intersection is one (a_id, b_id)-keyed
    * left-semi join of id pairs; the report is scalar aggregates on the
    * 1-row-broadcast pattern. Output: lsh_pairs, simhash_pairs,
    * both_pairs, lsh_only, simhash_only, overlap_jaccard (ROUND 6,
    * null when neither finds anything). */
  def detectorAgreement(docs: DataFrame, bits: Int = 64,
                        maxHamming: Int = 3): DataFrame = {
    // the two detector chains are INDEPENDENT jobs and each materializes
    // eagerly (Persist.cut): submit both from driver threads so the
    // second chain's stages back-fill cores the first one's task tails
    // leave idle (guide §2.6 overlap-independent-jobs) — neither chain
    // alone saturates the box between its shuffle barriers
    val Seq(lsh, sim) = graft.Concurrent.all(docs.sparkSession)(Seq(
      () => graft.Persist.cut(
        lshCandidatePairs(docs).select(col("a_id"), col("b_id"))),
      () => graft.Persist.cut(
        simhashNearDupPairs(docs, bits, maxHamming)
          .select(col("a_id"), col("b_id")))))
    val nl = lsh.agg(count(lit(1)).as("lsh_pairs"))
    val ns = sim.agg(count(lit(1)).as("simhash_pairs"))
    val nb = lsh.join(sim, Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("both_pairs"))
    val union = col("lsh_pairs") + col("simhash_pairs") - col("both_pairs")
    nl.crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .select(col("lsh_pairs"), col("simhash_pairs"), col("both_pairs"),
        (col("lsh_pairs") - col("both_pairs")).as("lsh_only"),
        (col("simhash_pairs") - col("both_pairs")).as("simhash_only"),
        when(union > 0L,
          detRound(col("both_pairs").cast("double") / union.cast("double"), 6))
          .as("overlap_jaccard"))
  }

  /** Pair-diff LOCALIZATION — for each candidate pair, where in each
    * document the shared material lives: positional shingles bucketed
    * into thirds (front/middle/tail), with shared-vs-own counts per
    * third and side. The review surface behind a dedup verdict: a pair
    * sharing only its FRONT third is common boilerplate (strip it, keep
    * both docs — the x94 action); sharing everywhere is a true mirror
    * (drop one — the x21 action); and a similarity scalar alone cannot
    * route between those two opposite actions.
    *
    * Scale shape: candidate pairs come from the audited (capped)
    * generators, so the per-pair work — one join of the a-side's
    * positional 32-byte hashes against the b-side's DISTINCT hash set,
    * and symmetrically — is bounded by |pairs|·doc-length; nothing
    * all-pairs, nothing text-width. Thirds are integer `div` arithmetic
    * on exact longs. Docs with fewer than n tokens contribute zero rows
    * on their side (coalesced). Output: a_id, b_id, third, a_n,
    * a_shared, b_n, b_shared. */
  def pairDiffThirds(docs: DataFrame, pairs0: DataFrame,
                     n: Int = 3): DataFrame = {
    val pairs = graft.Persist.cut(pairs0.select(col("a_id"), col("b_id")))
    // the positional-shingle frame is consumed ONLY through joins keyed
    // on the pair frame's doc ids (thirds on __own, hset on __other), so
    // docs in no pair can never reach the output: restrict the corpus
    // tokenize+explode to docs appearing in a pair — bounded by the
    // candidate generator's caps, hence broadcastable — and every output
    // row stays bit-identical (per-doc positions/totals are independent
    // of other docs). Guide §3.2: prune the big side before the join; at
    // sf0.1 this was the query's dominant phase (a full-corpus explode +
    // md5 + distinct for a pair set touching a minority of docs).
    val pairDocs = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val psh = graft.Persist.cut(positionalShingles(
        tokenized(docs.join(broadcast(pairDocs), Seq("doc_id"), "left_semi")), n)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(col("col")).as("h")))
    val tot = psh.groupBy(col("doc_id")).agg(count(lit(1)).as("__tot"))
    val thirds = psh.join(tot, "doc_id")
      .withColumn("third", expr("least((pos * 3) div __tot, 2)"))
      .select(col("doc_id"), col("third"), col("h"))
    val hset = psh.select(col("doc_id"), col("h")).distinct()
    // BOTH sides in ONE tagged pass (was: two symmetric join chains plus a
    // full_outer merge of their aggregates): symmetrize the pair frame
    // (narrow union over the cut pairs) so each pair row names its own and
    // other doc once per side, run the thirds⋈hset attachment once over the
    // doubled rows — identical total join volume to the two single-sided
    // passes — and fold the side split into conditional aggregates of one
    // groupBy. Removes a whole aggregate+shuffle stage and the full_outer
    // Exchange (guide §2.4); a third absent on one side aggregates to the
    // same 0s the outer-join coalesce produced.
    val sides = pairs
      .select(col("a_id"), col("b_id"), col("a_id").as("__own"),
        col("b_id").as("__other"), lit(1).as("__sa"))
      .unionByName(pairs.select(col("a_id"), col("b_id"),
        col("b_id").as("__own"), col("a_id").as("__other"),
        lit(0).as("__sa")))
    sides
      .join(thirds.withColumnRenamed("doc_id", "__own"), "__own")
      .join(hset.select(col("doc_id").as("__other"), col("h"),
        lit(1L).as("__hit")), Seq("__other", "h"), "left_outer")
      .groupBy(col("a_id"), col("b_id"), col("third"))
      .agg(
        count(when(col("__sa") === 1, 1)).as("a_n"),
        coalesce(sum(when(col("__sa") === 1, col("__hit"))), lit(0L))
          .as("a_shared"),
        count(when(col("__sa") === 0, 1)).as("b_n"),
        coalesce(sum(when(col("__sa") === 0, col("__hit"))), lit(0L))
          .as("b_shared"))
  }

  /** Longest CONTIGUOUS bench-matched shingle run per document — the
    * exact-substring reading of contamination next to
    * [[contaminationScores]]' set-overlap fraction (the n-gram-RUN test
    * of Lee et al. 2022 / the PaLM 2 eval-overlap audits): a doc whose
    * matched shingles are scattered single hits is quoting vocabulary,
    * while one long consecutive run IS a copied eval passage, and a
    * removal policy that thresholds on the fraction alone cannot tell
    * them apart.
    *
    * A run of r consecutive matched n-shingles covers r + n - 1 source
    * tokens (`longest_run_tokens`); `flagged` thresholds on that token
    * length, decided on exact integers so the verdict replays
    * cross-engine.
    *
    * Scale shape: the bench side collapses to its DISTINCT shingle set
    * and broadcasts (the [[contaminationScores]] contract); the corpus
    * side ships POSITIONAL shingle rows into the broadcast lookup — the
    * only aggregate state beyond two longs is the doc's own MATCHED
    * position list (bounded by the bench set's presence in that doc, not
    * the corpus), folded into the longest-run scalar by one ordered
    * array pass. No window, no self-join, no df-cap (bench-shared
    * boilerplate IS contamination — the x123 rationale). Docs with
    * fewer than n tokens have no shingles and are absent.
    * Output: doc_id, n_shingles, matched, longest_run,
    * longest_run_tokens, flagged. */
  def contaminationRuns(docs: DataFrame, bench: DataFrame, n: Int = 3,
                        minRunTokens: Int = 6): DataFrame = {
    val pos = positionalShingles(tokenized(docs), n)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("s"))
    runSummary(benchMatches(pos, bench, n,
        collect_list(when(col("__hit").isNotNull, col("pos"))).as("__mp")),
      "matched", n, minRunTokens)
  }

  /** Per-doc bench matches of shingle rows (doc_id, s, …): the rows
    * left-join the bench's DISTINCT shingle set, broadcast (a matched row
    * carries `__hit` = 1), then fold to n_shingles, matched and any
    * `extra` aggregates — the shared side of [[contaminationScores]] and
    * [[contaminationRuns]]. */
  private def benchMatches(rows: DataFrame, bench: DataFrame, n: Int,
                           extra: Column*): DataFrame = {
    val bs = shingleSet(bench, n).select(col("s")).distinct()
      .withColumn("__hit", lit(1L))
    rows.join(broadcast(bs), Seq("s"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("matched") +: extra: _*)
  }

  /** The run detectors' shared tail over a per-doc frame holding
    * n_shingles, the `counted` column and `__mp`, the run-eligible
    * positions: the longest consecutive run r, the r + n − 1 source
    * tokens it covers, and the verdict on that token length. */
  private def runSummary(perDoc: DataFrame, counted: String, n: Int,
                         minRunTokens: Int): DataFrame = {
    val runTokens = when(col("longest_run") > 0L,
      col("longest_run") + lit(n - 1).cast("long")).otherwise(lit(0L))
    perDoc.withColumn("longest_run", longestConsecutiveRun(col("__mp")))
      .select(col("doc_id"), col("n_shingles"), col(counted),
        col("longest_run"), runTokens.as("longest_run_tokens"),
        (runTokens >= lit(minRunTokens.toLong)).as("flagged"))
  }

  /** Longest SELF-repeated shingle run per document — [[contaminationRuns]]
    * with the doc itself as the reference: the longest stretch of
    * n-shingles each occurring elsewhere in the SAME document, which is
    * (to within n−1 tokens) the doc's longest internally-repeated
    * passage. x22's repetition ratio says HOW MUCH of a doc repeats;
    * this says whether the repetition is one long copy-pasted block
    * (template page, scraper loop, generation loop — the Lee et al. 2022
    * within-doc class) or scattered phrase reuse, which the ratio alone
    * cannot distinguish.
    *
    * Scale shape: positional shingles aggregate by (doc, 32-byte shingle
    * hash) — the span family's shuffle discipline; per-group state is
    * the shingle's own position list (bounded by in-doc multiplicity),
    * the per-doc fold state is the REPEATED positions only, and the run
    * scalar is [[graft.functions.TextFunctions.longestConsecutiveRun]]
    * (ONE definition with x138). Two md5-colliding distinct shingles in
    * one doc would merge groups — the 2⁻¹²⁸ span-family equivalence.
    * Docs with fewer than n tokens are absent.
    * Output: doc_id, n_shingles, repeated, longest_run,
    * longest_run_tokens, flagged. */
  def selfRepeatRuns(docs: DataFrame, n: Int = 3,
                     minRunTokens: Int = 6): DataFrame = {
    val perDoc = positionalShingles(tokenized(docs), n)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), md5(col("col")).as("h"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("__c"), collect_list(col("pos")).as("__ps"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__c")).as("n_shingles"),
        sum(when(col("__c") >= 2L, col("__c")).otherwise(0L)).as("repeated"),
        flatten(collect_list(when(col("__c") >= 2L, col("__ps")))).as("__mp"))
    runSummary(perDoc, "repeated", n, minRunTokens)
  }

  /** Near-dup clusters ranked by WASTED token mass — the prioritization
    * read over the CC dedup graph: each multi-doc component's total token
    * count minus its representative's (the minimum-id doc,
    * [[dropNearDuplicatesCC]]'s keep rule) is exactly the token volume a
    * dedup pass would reclaim there. Cluster COUNT (x82's histogram)
    * says how fragmented the graph is; token MASS says where the training
    * budget is leaking — a 2-doc component of 100k-token mirrors
    * outranks a 50-doc component of tweets, and this is the order a
    * curation team works the queue in.
    *
    * Scale shape: rides the shared CC label loop ((id, lbl) longs only);
    * the one extra join ships (doc_id, n_tokens) against the label frame
    * — never text. Per-cluster state is four longs (count, sum, min_by
    * pair); the k-row cut is TakeOrdered (saved DESC, cluster ASC), no
    * global sort. Under a non-converged iteration cap clusters read
    * FINER than truth, so savings are UNDER-estimated — the safe
    * direction for a reclamation estimate. Singleton docs never enter
    * (no pair ⇒ nothing to save). Output: cluster, n_docs, total_tokens,
    * kept_tokens, saved_tokens. */
  def clusterTokenSavings(docs: DataFrame, pairs: DataFrame, k: Int = 20,
                          maxIters: Int = 10): DataFrame = {
    val (labels, _) = componentLabels(pairs, maxIters)
    val tok = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("__nt"))
    labels.join(tok, labels("id") === tok("doc_id"))
      .groupBy(col("lbl").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        min_by(col("__nt"), col("doc_id")).as("kept_tokens"))
      .select(col("cluster"), col("n_docs"), col("total_tokens"),
        col("kept_tokens"),
        (col("total_tokens") - col("kept_tokens")).as("saved_tokens"))
      .orderBy(col("saved_tokens").desc, col("cluster"))
      .limit(k)
  }
}
