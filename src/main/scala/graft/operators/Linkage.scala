package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NumericFunctions.detRound

/** Record linkage / fuzzy entity resolution over short identifier strings
  * — the dimension-table cousin of the document near-dup families
  * (reference analogue: the master-table dedupe + polygon name lookup in
  * `alas_dataflow_1/utils/transformations.py`, which assumes names match
  * EXACTLY; these operators are what a pipeline needs the day they
  * don't). Classic blocked edit-distance linkage: typo'd suppliers,
  * re-keyed SKUs, OCR'd vendor names — the entity axis, where the
  * text-dedup families (x01/x08/x53) work the document axis.
  *
  * Scale discipline (the whole design, in order):
  *  1. **Dedup the NAME DOMAIN before anything quadratic.** Entity rows
  *     are grouped to distinct names first — the O(n²) edit-distance step
  *     runs over |distinct names| (thousands), never over rows
  *     (billions). Row multiplicity re-attaches afterward as exact
  *     count products, so nothing is lost.
  *  2. **Block, then compare.** Candidates form only inside a blocking
  *     key (default: the name's last token — the head noun carries the
  *     entity type while typos live in the modifier). A block is a
  *     bounded-group shuffle, and the per-block self-join is
  *     [[Dedup.bucketPairs]], the one every blocking generator shares.
  *  3. **Cap hot blocks.** `maxBlock` (default off) is the
  *     `bucketPairs` cap over distinct names: a degenerate blocking key
  *     (every name ending in "inc") must refuse its quadratic blow-up
  *     loudly, not attempt it.
  *  4. **Threshold inside the comparator.** The Spark side uses the
  *     3-arg `levenshtein(l, r, threshold)` (returns -1 past the bound)
  *     so codegen bails out of a row's DP matrix early; the `d >= 1`
  *     filter excludes both identical names (exact duplicates are
  *     [[Dedup.exactDuplicates]]' job) and the -1 sentinel.
  *
  * Cluster canonicalization ([[erClusters]]) reuses the shared CC core
  * ([[Dedup.componentLabels]]) over name-domain ids, so its cost is
  * |distinct names|, not |rows|.
  */
object Linkage {

  /** Blocking key: the name's last whitespace-delimited token (the whole
    * name when spaceless). */
  private def lastToken(name: Column): Column =
    regexp_extract(name, "(\\S+)$", 1)

  /** Distinct-name view: name, block, n_rows (multiplicity), and a
    * deterministic numeric name id (min entity key carrying the name) for
    * the CC loop. */
  private def nameDomain(df: DataFrame, name: Column, key: Column): DataFrame =
    df.groupBy(name.as("name"))
      .agg(count(lit(1)).as("n_rows"), min(key).as("name_id"))
      .withColumn("block", lastToken(col("name")))

  /** FUZZY NAME PAIRS — candidate linkage pairs over the distinct-name
    * domain: same block, edit distance in [1, maxDist]. `n_pairs` is the
    * implied ENTITY-pair count (row-multiplicity product) without ever
    * materializing entity pairs. Blocks wider than `maxBlock` distinct
    * names are dropped (hot-block refusal, counted by the caller via
    * [[blockProfile]]). Output: name_a, name_b (name_a < name_b), dist,
    * n_a, n_b, n_pairs. */
  def fuzzyNamePairs(df: DataFrame, name: Column, key: Column,
                     maxDist: Int = 2,
                     maxBlock: Int = Int.MaxValue): DataFrame =
    namePairs(graft.Persist.cut(nameDomain(df, name, key)), maxDist, maxBlock)
      .drop("a_name_id", "b_name_id")

  /** [[fuzzyNamePairs]] over an already-cut [[nameDomain]], plus each
    * side's `name_id` (a_name_id, b_name_id) for the CC loop. */
  private def namePairs(names: DataFrame, maxDist: Int, maxBlock: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    Dedup.bucketPairs(names, "name", Seq("block"), Seq("n_rows", "name_id"),
        cap = if (maxBlock == Int.MaxValue) Long.MaxValue else maxBlock.toLong)
      .withColumn("dist",
        levenshtein(col("a_id"), col("b_id"), maxDist).cast("long"))
      .filter(col("dist") >= 1L) // identical → 0, past-threshold → -1
      .select(col("a_id").as("name_a"), col("b_id").as("name_b"), col("dist"),
        col("a_n_rows").as("n_a"), col("b_n_rows").as("n_b"),
        (col("a_n_rows") * col("b_n_rows")).as("n_pairs"),
        col("a_name_id"), col("b_name_id"))
  }

  /** ER CLUSTERS — connected components over [[fuzzyNamePairs]]'
    * name graph, one row per distinct name with its cluster's canonical
    * name (the member with the minimum name id — deterministic, not
    * quality-ranked; [[Dedup.keepBestPerCluster]] is the ranked variant
    * on the document axis), the cluster width in distinct names, and the
    * entity-row mass it would merge. Names in no pair are their own
    * canonical (singleton clusters), including every name when no two
    * names pair. On a non-converged `maxIters` cap the labels partition
    * FINER than truth (see [[Dedup.componentLabels]]): names may stay
    * unmerged, never over-merge — the safe direction for a merge
    * suggestion report, but SURFACED rather than silent (the
    * `spark.graft.cc.onNonConverged` warn/error policy shared with
    * [[Dedup.splitByComponent]]) because an exact-closure verification
    * — the x174 oracle — would otherwise read starvation as a mystery
    * mismatch. Output: name, canonical, cluster_names, cluster_rows,
    * n_rows. */
  def erClusters(df: DataFrame, name: Column, key: Column,
                 maxDist: Int = 2, maxBlock: Int = Int.MaxValue,
                 maxIters: Int = 10): DataFrame = {
    val names = graft.Persist.cut(nameDomain(df, name, key))
    val pairs = namePairs(names, maxDist, maxBlock)
      .select(col("a_name_id").as("a_id"), col("b_name_id").as("b_id"))
    val (labels, converged) = Dedup.componentLabels(pairs, maxIters)
    Dedup.onNonConverged(df.sparkSession, converged,
      s"erClusters: component labels did NOT converge within " +
        s"maxIters=$maxIters — clusters partition finer than the true " +
        "closure (names stay unmerged; an exact-closure oracle will " +
        "mismatch). Raise maxIters.")
    val l = graft.Persist.cut(Dedup.attachLabels(names, "name_id", labels, "lbl")
      .select(col("name"), col("name_id"), col("n_rows"), col("lbl")))
    val canon = l.groupBy(col("lbl"))
      .agg(min_by(col("name"), col("name_id")).as("canonical"),
        count(lit(1)).as("cluster_names"),
        sum(col("n_rows")).as("cluster_rows"))
    l.join(canon, "lbl")
      .select(col("name"), col("canonical"), col("cluster_names"),
        col("cluster_rows"), col("n_rows"))
  }

  /** LINKAGE AGREEMENT — the precision proxy that decides whether a
    * distance threshold is safe to merge at: for every candidate pair
    * distance, the share of implied ENTITY pairs whose `attr` (a
    * should-be-invariant attribute — brand, nation, category) agrees
    * across the link. Computed from per-(name, attr) contingency counts
    * joined on the name-pair frame — the entity cross product is never
    * materialized (agreement mass = Σ_v n_a(v)·n_b(v), an exact integer
    * sum). A high-agreement distance band merges; a low one is a
    * homonym band, not a typo band. Output: dist, n_name_pairs,
    * n_entity_pairs, n_agree, agree_rate (detRound 6). */
  def linkageAgreement(df: DataFrame, name: Column, key: Column,
                       attr: Column, maxDist: Int = 2,
                       maxBlock: Int = Int.MaxValue): DataFrame = {
    val pairs = graft.Persist.cut(
      fuzzyNamePairs(df, name, key, maxDist, maxBlock))
    val byAttr = graft.Persist.cut(
      df.groupBy(name.as("name"), attr.as("__v"))
        .agg(count(lit(1)).as("n")))
    val agree = pairs
      .join(byAttr.select(col("name").as("name_a"), col("__v"),
        col("n").as("__na")), "name_a")
      .join(byAttr.select(col("name").as("name_b"), col("__v"),
        col("n").as("__nb")), Seq("name_b", "__v"))
      .groupBy(col("name_a"), col("name_b"))
      .agg(sum(col("__na") * col("__nb")).as("__agree"))
    pairs.join(agree, Seq("name_a", "name_b"), "left_outer")
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_name_pairs"),
        sum(col("n_pairs")).as("n_entity_pairs"),
        sum(coalesce(col("__agree"), lit(0L))).as("n_agree"))
      .select(col("dist"), col("n_name_pairs"), col("n_entity_pairs"),
        col("n_agree"),
        detRound(col("n_agree").cast("double") / col("n_entity_pairs"), 6)
          .as("agree_rate"))
  }

  /** BLOCK PROFILE — the blocking-key health report that governs
    * `maxBlock`: per block, distinct names, entity rows, and the
    * candidate-pair count the block contributes (c·(c-1)/2). The
    * pre-flight read before any linkage run at corpus scale — one
    * degenerate block owning 99% of candidates means the blocking key,
    * not the comparator, needs fixing. Output: block, n_names, n_rows,
    * n_candidates. */
  def blockProfile(df: DataFrame, name: Column, key: Column): DataFrame =
    nameDomain(df, name, key)
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n_names"), sum(col("n_rows")).as("n_rows"))
      .select(col("block"), col("n_names"), col("n_rows"),
        // the product is always even, so the double division is exact
        ((col("n_names") * (col("n_names") - 1L)) / lit(2))
          .cast("long").as("n_candidates"))
}
