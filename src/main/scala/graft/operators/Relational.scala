package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NumericFunctions
import graft.functions.NumericFunctions.detRound

/** Reusable relational operators re-expressing the reference's BigQuery
  * stored-procedure layer (SURVEY §2.0 Q1-Q20) as pure
  * DataFrame => DataFrame functions.
  *
  * Scale notes (100 TB discipline):
  *  - dedupe/latest-per-key are a single hash-partition shuffle on the key
  *    (window over PARTITION BY key). A window partition is one task, so
  *    these are for keys with BOUNDED group sizes (orders have dozens of
  *    events, not millions); for unbounded/hot keys use saltedAgg or the
  *    bounded `graft_top_k` aggregate (Similarity.topKPerQuery) instead.
  *  - upsert is one full-outer shuffle join on the key; at production scale
  *    the base side would be bucketed on the key so only the delta shuffles.
  *  - topK uses Spark's TakeOrderedAndProject (per-partition partial top-k,
  *    then a single reduce) — no global sort materialization.
  */
object Relational {

  /** Q1 delete_duplicates (reference DAG_cloudrun_dataflow_sp.py:90-96):
    * keep the first `keep` rows per key under `order` (default 1). */
  def dedupeKeepFirst(df: DataFrame, key: Seq[Column], order: Seq[Column],
                      keep: Int = 1): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(key: _*).orderBy(order: _*)))
      .filter(col("__rn") <= keep)
      .drop("__rn")

  /** Q2 merge_temp_master (DAG:98-104, DOC:8): upsert `updates` into `base`
    * on `key` — when a key matches, the update row wins WHOLESALE (a NULL in
    * an update row overwrites a non-null base value, true MERGE semantics);
    * unmatched update keys are inserted, unmatched base keys kept.
    * MERGE-without-Delta = full-outer join gated on update-key presence. */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val cols = base.columns
    // Prefix-rename the update side so the two inputs share no column
    // names: `base` may itself derive from `updates` (e.g. re-applying a
    // delta), and same-name attributes would then make Spark's self-join
    // resolution pick sides silently wrong. The literal __u_present marker
    // (not the key) gates which side wins: an update row with a NULL key
    // never joins, but MERGE's not-matched branch still INSERTs it with
    // its own values rather than a row of nulls.
    val u = updates.select(
      (lit(true).as("__u_present") +: cols.toSeq.map(c => updates(c).as(s"__u_$c"))): _*)
    base.join(u, base(key) === col(s"__u_$key"), "full_outer")
      .select(cols.toSeq.map(c =>
        when(col("__u_present").isNotNull, col(s"__u_$c")).otherwise(base(c)).as(c)): _*)
  }

  /** Q4/Q6-style "latest event per key" derivation
    * (DAG:114-120 update_delivery_order_work_status). */
  def latestPerKey(df: DataFrame, key: Seq[Column], ts: Seq[Column]): DataFrame =
    dedupeKeepFirst(df, key, ts.map(_.desc))

  /** Sort + limit; Spark plans this as TakeOrderedAndProject (no full sort). */
  def topK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Default salt for the skew operators: hash of the row's own hashable
    * values (NOT monotonically_increasing_id, which changes across
    * retries/repartitionings and would make replays non-deterministic):
    * same input rows => same salt, always. Only hashABLE columns feed the
    * hash — Spark's hash() rejects MapType at analysis time, and a map
    * column must not make the whole frame unsaltable. The trade:
    * IDENTICAL duplicate rows (or rows differing only in unhashable
    * columns) share one bucket — for duplicate-heavy hot keys pass an
    * explicit salt (e.g. spark_partition_id()) and give up replay
    * determinism for spread. */
  private def rowHashSalt(df: DataFrame, caller: String): Column = {
    import org.apache.spark.sql.types._
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType    => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType  => hasMap(a.elementType)
      case _             => false
    }
    val hashable = df.schema.fields.filterNot(f => hasMap(f.dataType)).map(f => col(f.name))
    // the join/group key itself is always hashable, so this can only trip
    // on a frame that couldn't reach the operator anyway — fail loud
    // rather than silently degrade replay determinism
    require(hashable.nonEmpty, s"$caller default salt needs at least one non-map column; pass an explicit salt")
    hash(hashable.toSeq: _*)
  }

  /** Two-phase salted aggregation for skew-heavy keys: phase 1 aggregates
    * on (key, salt) — a hot key's rows spread over `saltBuckets` reducers —
    * phase 2 merges the partials per key. `aggs` supplies BOTH phases for
    * each output column: (partial expression, merge expression over the
    * partial's alias). Use when ONE key dominates (AQE skew handling
    * splits map partitions but cannot split a single reduce group). */
  def saltedAgg(df: DataFrame, key: String, saltBuckets: Int,
                aggs: Seq[(Column, String, Column => Column)],
                salt: Option[Column] = None): DataFrame = {
    val defaultSalt = rowHashSalt(df, "saltedAgg")
    val salted = df.withColumn("__salt",
      pmod(salt.getOrElse(defaultSalt), lit(saltBuckets)))
    val partial = salted.groupBy(col(key), col("__salt"))
      .agg(aggs.head._1.as(s"__p_${aggs.head._2}"),
        aggs.tail.map(a => a._1.as(s"__p_${a._2}")): _*)
    partial.groupBy(col(key))
      .agg(aggs.head._3(col(s"__p_${aggs.head._2}")).as(aggs.head._2),
        aggs.tail.map(a => a._3(col(s"__p_${a._2}")).as(a._2)): _*)
  }

  /** Salted inner equi-join for skew-heavy keys — [[saltedAgg]]'s join
    * twin: when ONE join key dominates the big side (the null-like
    * sentinel customer, the boilerplate document class), a plain shuffle
    * join funnels that key's rows through a single reducer and AQE's
    * skew splitting cannot help a single reduce GROUP. Salting spreads
    * them: the big side gets a deterministic salt in [0, saltBuckets)
    * (row-hash — the [[saltedAgg]] replay discipline), the small side is
    * replicated ONCE PER SALT (a bounded ×saltBuckets explode of the
    * side that is small by contract), and the join key becomes
    * (key, salt) — the hot key now occupies saltBuckets reducers.
    *
    * Output is EXACTLY the plain inner join (salting is invisible —
    * every big row meets every matching small row at precisely its own
    * salt), which is what makes this oracle-verifiable. Inner joins
    * only: an outer variant must account for small-side rows matched in
    * no bucket — compose explicitly if needed. Prefer broadcast() when
    * the small side fits an executor; this is for the mid-size dim that
    * broadcasts poorly but still replicates saltBuckets× affordably. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltBuckets: Int, salt: Option[Column] = None): DataFrame = {
    require(saltBuckets >= 1, "need at least one salt bucket")
    val bigS = big.withColumn("__salt",
      pmod(salt.getOrElse(rowHashSalt(big, "saltedJoin")), lit(saltBuckets)))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  /** As-of join: for each left row, attach the single LATEST right row of
    * the same key with rightTs <= leftTs (inclusive) — the
    * trades-to-quotes / event-attribution operator Spark lacks natively.
    *
    * The naive formulation (range join + per-left top-1) explodes
    * quadratically per key; this is the union-and-carry plan: tag both
    * sides, ONE shuffle on the key, one ordered window pass carrying the
    * last-seen right payload forward — O(n log n) per key, no pair
    * blowup, the standard scale-out as-of shape. At equal timestamps the
    * right row sorts first, so a left row sees a same-instant right row.
    *
    * Right payload columns land suffixed (`rightSuffix`), null where no
    * right row precedes. The right side must be UNIQUE per
    * (key, rightTs) — dedupe first (e.g. dedupeKeepFirst) or the carried
    * row among same-instant duplicates is plan-dependent. JOIN null
    * semantics hold: right rows with a null key OR null timestamp match
    * nothing (both are dropped before the union — `leftTs >= NULL` is
    * never true in SQL, and the window partition would otherwise group
    * null keys together and "match" them, which no join does). The right
    * payload is carried as ONE struct per row, so a matched right row
    * arrives WHOLESALE — a legitimately null payload value stays null
    * instead of being backfilled from an older right row. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String,
               rightSuffix: String = "_asof"): DataFrame = {
    val lPay = left.columns.filterNot(_ == key).toSeq
    val rPay = right.columns.filterNot(_ == key).toSeq
    val rStructType = org.apache.spark.sql.types.StructType(
      rPay.map(c => right.schema(right.schema.fieldIndex(c))))
    val lSel = col(key) +: col(leftTs).as("__t") +: lit(1).as("__side") +:
      (lPay.map(col) :+ lit(null).cast(rStructType).as("__r"))
    val rSel = col(key) +: col(rightTs).as("__t") +: lit(0).as("__side") +:
      (lPay.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rPay.map(col): _*).as("__r"))
    val u = left.select(lSel: _*).unionByName(
      right.filter(col(key).isNotNull && col(rightTs).isNotNull).select(rSel: _*))
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t").asc_nulls_first, col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select((col(key) +: lPay.map(col)) ++
        rPay.map(c => col("__r").getField(c).as(s"$c$rightSuffix")): _*)
  }

  /** Time-bucket resample with gap filling: per-key event counts at
    * `unit` granularity, with ZERO rows materialized for every empty
    * bucket between each key's first and last event — the regular time
    * series a dashboard / anomaly detector / training-curve join needs
    * (a missing bucket and a zero bucket mean different things only
    * after this operator makes the difference explicit).
    *
    * Plan shape: one (key, bucket) aggregate; one per-key min/max
    * aggregate over ITS OUTPUT (so the span pass reads |keys·buckets|
    * rows, not the raw events); one sequence() explode generating each
    * key's bucket spine; one left join back to the counts. The spine is
    * bounded per key by its own activity span — a key's row count is
    * span/unit regardless of corpus size, so the explode cannot blow up
    * on event volume, only on calendar span (choose `unit` accordingly:
    * hourly spines over years-long spans want unit="day" or an upstream
    * span filter). Null keys are dropped (JOIN semantics — a null key
    * matches nothing; DuckDB's USING join agrees).
    * Output: key, bucket, n_events (0 for gaps). */
  def resampleCounts(df: DataFrame, key: String, ts: String,
                     unit: String = "day"): DataFrame =
    fillGaps(bucketCounts(df, key, ts, unit), key, unit)

  /** The (key, bucket, n_events) count step of [[resampleCounts]], before
    * the gap fill — additive over any split of `df`, so the incremental
    * anomaly twin lands it per batch and gap-fills the re-summed fold.
    * Null keys drop. */
  private[graft] def bucketCounts(df: DataFrame, key: String, ts: String,
                                  unit: String): DataFrame =
    df.filter(col(key).isNotNull)
      .select(col(key), date_trunc(unit, col(ts)).as("bucket"))
      .groupBy(col(key), col("bucket")).agg(count(lit(1)).as("n_events"))

  /** OUTAGE detector — the longest run of consecutive EMPTY buckets per
    * key on the [[resampleCounts]] spine: a feed that stopped for six
    * hours shows up here as `longest_gap = 6` even when its daily
    * totals look healthy, which is exactly the failure a volume-only
    * health check (x112) misses. Composes two audited cores: the
    * gap-filled spine (empty-vs-missing made explicit) and the
    * [[graft.functions.TextFunctions.longestConsecutiveRun]] islands
    * fold (ONE definition with x138/x144), applied to the ZERO
    * positions.
    *
    * Scale shape: the spine is bounded by activity-span/unit per key
    * (the resample lever); bucket indices are ORDINAL positions in the
    * key's bucket-sorted spine — not fixed-width µs arithmetic, so a
    * DST-bearing session timezone (23/25 h days) cannot collide or skip
    * indices; [[fillGaps]]' calendar `interval` stepping and this
    * ordinal view agree by construction. Per-key state is the spine's
    * (bucket, n_events) rows, same bound as the spine itself. Output:
    * key, n_buckets, n_empty, longest_gap (in `unit`s). */
  def outageGaps(events: DataFrame, key: String, ts: String,
                 unit: String = "hour"): DataFrame =
    resampleCounts(events, key, ts, unit)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("n_events") === 0L, 1L).otherwise(0L)).as("n_empty"),
        sort_array(collect_list(struct(col("bucket"), col("n_events"))))
          .as("__sp"))
      .select(col(key), col("n_buckets"), col("n_empty"),
        graft.functions.TextFunctions.longestConsecutiveRun(
          expr("""transform(
                 |  filter(
                 |    transform(__sp, (b, i) -> struct(CAST(i AS LONG) AS i,
                 |                                     b.n_events AS n)),
                 |    s -> s.n = 0),
                 |  s -> s.i)""".stripMargin))
          .as("longest_gap"))

  /** The gap-fill stage of [[resampleCounts]], exposed for callers that
    * already HOLD aggregated (key, bucket, n_events) rows — e.g. the
    * incremental anomaly runner, whose counts table is maintained
    * additively across streaming batches and must be re-spined per pass
    * without touching raw events. Input buckets must already be
    * `unit`-aligned (date_trunc'd) and unique per (key, bucket) — a
    * misaligned bucket would fall off the spine and silently drop. */
  def fillGaps(counts: DataFrame, key: String, unit: String = "day"): DataFrame = {
    // sanitized allow-list: `unit` reaches an interval expression, and
    // month/year intervals are variable-width (calendar arithmetic) —
    // fixed-width units keep the spine arithmetic engine-independent
    require(Seq("hour", "day", "week").contains(unit),
      s"unit must be hour|day|week, got $unit")
    val spine = counts.groupBy(col(key))
      .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
      .select(col(key),
        explode(sequence(col("__lo"), col("__hi"), expr(s"interval 1 $unit")))
          .as("bucket"))
    spine.join(counts.select(col(key), col("bucket"), col("n_events").as("__n")),
        Seq(key, "bucket"), "left_outer")
      .select(col(key), col("bucket"), coalesce(col("__n"), lit(0L)).as("n_events"))
  }

  /** Trailing moving average over an ordered per-key series — the
    * smoothing pass a monitoring/trend query applies AFTER
    * [[resampleCounts]] has made empty buckets explicit (a moving average
    * over a series with silently-missing buckets is simply wrong: the
    * window would span more wall-clock than it claims). ROWS framing is
    * exact on a gap-filled series because the spine is dense by
    * construction. One window over the key partitioning — same
    * bounded-group discipline as the other windows here; sums of longs
    * stay exact, so the rounded average is engine-independent. */
  def movingAvg(df: DataFrame, key: String, order: String, value: String,
                window: Int, as: String = "ma"): DataFrame = {
    require(window >= 1, "window must be >= 1 row")
    val w = Window.partitionBy(col(key)).orderBy(col(order))
      .rowsBetween(-(window - 1), Window.currentRow)
    df.withColumn(as, detRound(avg(col(value)).over(w), 4))
  }

  /** Exponentially-weighted trailing average over a gap-filled integer
    * series — [[movingAvg]]'s recency-weighted sibling (the smoothing a
    * trend monitor wants when "last week matters more than last month"):
    * ewma_t = Σ_{j=0..window−1} α^j·v_{t−j} / Σ_j α^j over the buckets
    * that exist (at a series' start the normalizer shrinks to the weights
    * present, so early buckets are true averages of their history, not
    * diluted toward zero).
    *
    * Shape: a SQL window frame cannot weight by offset-within-frame, and
    * collecting each frame into an array to fold re-materializes the
    * window per row. Instead each (key, bucket, v) row VOTES for the
    * `window` buckets at offsets 0..window−1 ahead of it — a narrow
    * bounded ×window explode, the [[rollingDistinct]] discipline — one
    * (key, bucket) aggregate merges the votes, and an inner join back to
    * the input drops votes cast past the series end. Runs ON
    * [[resampleCounts]]/[[fillGaps]] output: offsets are calendar `unit`
    * steps, so a missing bucket would silently absorb its own votes —
    * the dense spine is the correctness precondition (as for
    * [[movingAvg]]).
    *
    * Float discipline: α^j is computed ONCE driver-side, rounded to 12
    * decimals into DECIMAL — the weights are literal constants shared
    * with the generated oracle — so w·v products and both sums are EXACT
    * decimal arithmetic, order- and partition-independent; one double
    * division at the end (round 6). Output: input columns + `as`. */
  def ewma(df: DataFrame, key: String, value: String, window: Int,
           alpha: Double, unit: String = "day", as: String = "ewma"): DataFrame = {
    require(Seq("hour", "day", "week").contains(unit),
      s"unit must be hour|day|week, got $unit")
    require(window >= 1, "window must be >= 1 bucket")
    require(alpha > 0.0 && alpha <= 1.0, "alpha must lie in (0, 1]")
    val weights = ewmaWeights(window, alpha)
    val votes = df.select(col(key), col("bucket"), col(value).cast("long").as("__v"),
        explode(array(weights.zipWithIndex.map { case (w, j) =>
          struct(lit(j).as("j"), lit(w).as("w"))
        }: _*)).as("__jw"))
      .select(col(key),
        (col("bucket") + col("__jw.j") * expr(s"interval 1 $unit")).as("bucket"),
        (col("__jw.w") * col("__v")).as("__num"), col("__jw.w").as("__den"))
      .groupBy(col(key), col("bucket"))
      .agg(sum(col("__num")).as("__n"), sum(col("__den")).as("__d"))
    df.join(votes, Seq(key, "bucket"))
      .withColumn(as, detRound(col("__n").cast("double") / col("__d").cast("double"), 6))
      .drop("__n", "__d")
  }

  /** The EWMA weight ladder α^0..α^(window−1), each rounded to 12
    * decimals — ONE definition, printed verbatim into the oracle SQL. */
  def ewmaWeights(window: Int, alpha: Double): Seq[java.math.BigDecimal] =
    (0 until window).map(j => java.math.BigDecimal.valueOf(math.pow(alpha, j))
      .setScale(12, java.math.RoundingMode.HALF_UP))

  /** Rolling z-score anomaly detection over an ordered per-key INTEGER
    * series (run it on [[resampleCounts]] output — on a gap-free spine the
    * trailing ROWS frame is also a trailing time window): each row is
    * scored against the mean/stddev of the `window` rows PRECEDING it
    * (exclusive — "today vs the last week", the standard detector frame:
    * a frame INCLUDING the current row caps a single-point spike's z at
    * √(window−1), so a 3σ flag could never fire at window ≤ 9), and
    * flagged when |value − mean| > k·σ (population σ over the history).
    *
    * Exactness discipline (the reason this is restricted to integer
    * values): the history statistics are INTEGER sums — cnt, Σv, Σv² — so
    * z = (cnt·v − Σv)/√(cnt·Σv² − (Σv)²) is one double expression over
    * exact integers, bit-identical cross-engine, and the anomaly flag is
    * decided in PURE INTEGER arithmetic ((cnt·v − Σv)² > k²·varNum),
    * immune to float drift at the threshold boundary. A windowed
    * stddev_samp would hand the flag to engine-specific accumulation
    * order. Integer bounds: safe while window·max(v)² < 2^63 — counts of
    * events per bucket, not raw micropayment sums.
    *
    * A CONSTANT history (varNum = 0) has σ = 0: z is null, and any
    * deviation from it is infinitely many sigmas — flagged whenever at
    * least 2 history rows agree on the constant (cnt < 2 rows of history
    * is no baseline: never flagged, z null).
    *
    * One window over the key partitioning (bounded-group discipline as
    * above; a gap-filled series is bounded by its calendar span).
    * Output: input columns + z (4 decimals, null when σ = 0), anomaly
    * (0/1 long). */
  def rollingZscore(df: DataFrame, key: String, order: String, value: String,
                    window: Int, k: Int = 3, as: String = "z"): DataFrame = {
    require(window >= 2, "a z-score needs at least 2 rows of history")
    require(k >= 1, "k must be a positive integer sigma multiplier")
    val w = Window.partitionBy(col(key)).orderBy(col(order))
      .rowsBetween(-window, -1)
    val v = col(value).cast("long")
    val cnt = count(lit(1)).over(w)
    val sm = sum(v).over(w)
    val sq = sum(v * v).over(w)
    val dev = cnt * v - sm                // cnt·(v − mean), integer-exact
    val varNum = cnt * sq - sm * sm       // cnt²·variance, integer-exact
    df.withColumn(as,
        when(varNum > 0,
          round(dev.cast("double") / sqrt(varNum.cast("double")), 4)))
      .withColumn("anomaly",
        when((varNum > 0 && dev * dev > lit(k.toLong * k) * varNum) ||
             (varNum === 0 && cnt >= 2 && dev =!= 0), 1L).otherwise(0L))
  }

  /** Pivot with an EXPLICIT value list: per-key counts of `pivotCol`'s
    * values spread into one column per value (absent combinations are 0,
    * not null — downstream arithmetic shouldn't need null guards for
    * categories that simply didn't occur).
    *
    * The values MUST be passed, never discovered: Spark's values-less
    * pivot runs a distinct-collect job over the full input first — a
    * corpus scan plus a driver collect whose width is unbounded at
    * 100 TB. And with the list in hand, this deliberately does NOT use
    * `Dataset.pivot` at all: Spark plans pivot as TWO aggregates (a
    * pre-count on (key, pivotCol), then a pivot_first re-aggregate on
    * key — two exchanges), while the explicit list admits plain
    * conditional aggregation — count(CASE) per value in ONE groupBy
    * with map-side partials, one shuffle (plan-asserted). The output
    * schema is static either way, which is what every downstream
    * consumer and the SQL oracle need.
    * Output: key, one long count column per value, in `values` order
    * (absent combinations are 0, not null). */
  def pivotCounts(df: DataFrame, key: String, pivotCol: String,
                  values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "pass the pivot categories explicitly")
    val aggs = values.map(v => count(when(col(pivotCol) === v, 1)).as(v))
    df.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
  }

  /** Rolling DISTINCT count — "users active in the trailing `window`
    * buckets" (the WAU/MAU dashboard read). Distinct counts don't
    * compose, so no window-frame sum can produce this; the scale-correct
    * shape is: distinct (key, bucket) pairs first (the only corpus-sized
    * shuffle — events collapse to at most one row per key per bucket),
    * then each pair votes for the `window` buckets it keeps its key
    * "active" in (a narrow ×window explode, bounded by the window
    * constant), then one count-distinct per bucket. Buckets more than
    * `window` behind the last activity of EVERY key emit nothing (no
    * vote reaches them) — compose with [[fillGaps]] semantics upstream
    * if zero-rows matter. Votes past the corpus's last bucket are
    * dropped (broadcast 1-row bound), so no phantom future buckets.
    * Output: bucket, n_active. */
  def rollingDistinct(df: DataFrame, key: String, ts: String,
                      unit: String = "day", window: Int = 7,
                      as: String = "n_active"): DataFrame = {
    require(Seq("hour", "day", "week").contains(unit),
      s"unit must be hour|day|week, got $unit")
    require(window >= 1, "window must be >= 1 bucket")
    val ud = df.filter(col(key).isNotNull)
      .select(col(key), date_trunc(unit, col(ts)).as("__d")).distinct()
    val bounds = ud.agg(max(col("__d")).as("__mx"))
    ud.select(col(key), explode(sequence(col("__d"),
        col("__d") + expr(s"interval ${window - 1} $unit"),
        expr(s"interval 1 $unit"))).as("bucket"))
      .crossJoin(broadcast(bounds))
      .filter(col("bucket") <= col("__mx"))
      .groupBy(col("bucket")).agg(countDistinct(col(key)).as(as))
  }

  /** Quantile bucketing without a global sort: assign each row to one of
    * `buckets` quantile bins of `value` (length-curriculum strata,
    * size-tiered processing). The naive formulation — NTILE over a
    * corpus-wide ORDER BY — funnels the whole dataset through ONE
    * sorting task; this computes the exact bucket THRESHOLDS with one
    * percentile aggregate (map-side partials), broadcasts the 1-row
    * threshold frame, and assigns with a narrow comparison sum — no
    * global sort, no skew, same bins.
    *
    * Determinism: thresholds are rounded to 4 decimals (Spark's exact
    * `percentile` and DuckDB's `quantile_cont` share R-7 interpolation
    * and agree after the round — the x23 contract pins this); integer
    * values compared against rounded thresholds make every assignment
    * engine-independent. Quantile probabilities are exact binary doubles
    * for power-of-two bucket counts and printed verbatim into generated
    * SQL otherwise. Boundary semantics: a row EQUAL to a threshold falls
    * in the lower bucket (`>` comparisons); heavily-tied distributions
    * produce unbalanced buckets by construction — that is what equal
    * values mean. Output: input + bucket (1-based long). */
  def quantileBuckets(df: DataFrame, value: String, buckets: Int,
                      as: String = "bucket"): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      round(expr(s"percentile($value, $p)"), 4).as(s"__q$i")
    }
    val thr = df.agg(aggs.head, aggs.tail: _*)
    df.crossJoin(broadcast(thr))
      .withColumn(as,
        probs.indices.map(i => when(col(value) > col(s"__q$i"), 1L).otherwise(0L))
          .reduce(_ + _) + lit(1L))
      .drop(probs.indices.map(i => s"__q$i"): _*)
  }

  /** Hash-sample CALIBRATION — the self-evaluation that licenses running
    * the monitoring family on a sample: exact percentiles of `value`
    * computed on deterministic md5-hash samples at each per-mille rate,
    * side by side with the full-corpus truth and the relative error per
    * percentile. At 100 TB nobody runs x23/x51-style exact stats on
    * every row between ingests; this report says which sample rate keeps
    * p50/p90/p99 within tolerance ON THIS CORPUS, re-checked as the
    * corpus drifts (the x128 estimator-calibration discipline applied to
    * sampling instead of MinHash). Sampling is the salted-hash split
    * ([[graft.functions.TextFunctions.md5Mod]]), so membership is
    * deterministic, engine-independent, and NESTED across rates (the
    * 1% sample is a subset of the 10% one — rate comparisons measure
    * rate, not sample luck).
    *
    * Scale shape: ONE pass over (hash, value) pairs — each row fans out
    * only to the rates whose cut it passes (narrow explode+filter, ≤
    * |rates|+1 copies of a 2-column stream), then one grouped exact
    * percentile per rate. The full-corpus group is the baseline being
    * audited — exact percentile state is the group's values (the
    * [[graft.operators.TextAnalysis.corpusStats]] caveat); run the
    * audit itself on a capped window if even that is too hot, or swap
    * approx_percentile and lose the oracle. Relative error divides by
    * the full-corpus percentile — zero-valued baselines surface null
    * (nothing meaningful to calibrate against). Output: rate (per
    * mille; 1000 = full), n_rows, p50, p90, p99, err50, err90, err99
    * (ROUND 6). */
  def sampleCalibration(df: DataFrame, key: Column, value: Column,
                        ratesPerMille: Seq[Int] = Seq(10, 100)): DataFrame = {
    require(ratesPerMille.forall(r => r >= 1 && r < 1000),
      "rates are per-mille strictly between 0 and 1000")
    val rates = (ratesPerMille :+ 1000).distinct.sorted
    val tagged = df
      .select(graft.functions.TextFunctions.md5Mod(key, lit(1000)).as("__h"),
        value.cast("double").as("__v"))
      .withColumn("rate", explode(array(rates.map(r => lit(r.toLong)): _*)))
      .filter(col("__h") < col("rate"))
    val stats = tagged.groupBy(col("rate"))
      .agg(count(lit(1)).as("n_rows"),
        round(expr("percentile(__v, 0.5)"), 4).as("p50"),
        round(expr("percentile(__v, 0.9)"), 4).as("p90"),
        round(expr("percentile(__v, 0.99)"), 4).as("p99"))
    val full = stats.filter(col("rate") === 1000L)
      .select(col("p50").as("__f50"), col("p90").as("__f90"),
        col("p99").as("__f99"))
    def err(c: String, f: String) =
      when(col(f) =!= 0.0, detRound(abs(col(c) - col(f)) / col(f), 6))
    stats.crossJoin(broadcast(full))
      .select(col("rate"), col("n_rows"), col("p50"), col("p90"), col("p99"),
        err("p50", "__f50").as("err50"), err("p90", "__f90").as("err90"),
        err("p99", "__f99").as("err99"))
  }

  /** Per-group [[quantileBuckets]]: thresholds computed WITHIN each
    * group (per-source length curricula — a quartile of Wikipedia is not
    * a quartile of Common Crawl), one grouped percentile aggregate, the
    * per-group threshold table broadcast back (|groups| rows), narrow
    * assignment. Same determinism contract as the ungrouped form. */
  def quantileBucketsBy(df: DataFrame, group: String, value: String,
                        buckets: Int, as: String = "bucket"): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      round(expr(s"percentile($value, $p)"), 4).as(s"__q$i")
    }
    val thr = df.groupBy(col(group)).agg(aggs.head, aggs.tail: _*)
    df.join(broadcast(thr), Seq(group))
      .withColumn(as,
        probs.indices.map(i => when(col(value) > col(s"__q$i"), 1L).otherwise(0L))
          .reduce(_ + _) + lit(1L))
      .drop(probs.indices.map(i => s"__q$i"): _*)
  }

  /** Per-group percent_rank WITHOUT a per-group row window. The naive
    * `PERCENT_RANK() OVER (PARTITION BY group ORDER BY value)` sorts
    * every group's FULL row set in one task — corpus-sized partitions
    * when groups are few (5 languages over 100 TB = 5 tasks). This
    * formulation aggregates to a (group, value) histogram first, runs
    * the cumulative window over DISTINCT VALUES per group (bounded by
    * the value domain — token counts, scores — not the corpus), and
    * joins the rank fractions back. Ties share a rank exactly as the
    * SQL-standard percent_rank does: pr = rows_below / (n - 1), and a
    * single-row group scores 0. Determinism: integer counts divide once
    * in double, round 6.
    *
    * `broadcastHist=false` reverts the rank-table join to a shuffle when
    * the value domain itself is huge (continuous scores at full
    * precision — consider bucketing first in that regime). */
  def percentRankBy(df: DataFrame, group: String, value: String,
                    as: String = "pr", broadcastHist: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(col(group), col(value)).agg(count(lit(1)).as("__c"))
    val byVal = Window.partitionBy(col(group)).orderBy(col(value))
    val all = Window.partitionBy(col(group))
    val ranks = hist
      .withColumn("__below", sum(col("__c")).over(byVal) - col("__c"))
      .withColumn("__n", sum(col("__c")).over(all))
      .select(col(group), col(value),
        when(col("__n") === 1, lit(0.0d))
          .otherwise(detRound(col("__below").cast("double") / (col("__n") - 1), 6))
          .as(as))
    df.join(if (broadcastHist) broadcast(ranks) else ranks, Seq(group, value))
  }

  /** Winsorized (clipped) per-group mean — the robust location statistic
    * a curation pipeline reports instead of a raw mean that one
    * million-token outlier document can drag arbitrarily: values are
    * clipped into the group's [pLo, pHi] percentile band before
    * averaging. Same two-phase shape as [[quantileBucketsBy]]: one
    * grouped exact-percentile aggregate, thresholds broadcast back
    * (|groups| rows), then one narrow clip + sum pass.
    *
    * Float discipline (cross-engine determinism): thresholds round to 4
    * decimals and clip in DECIMAL(18,4); the per-group sum is DECIMAL —
    * exact, order-independent addition, immune to partitioning (the x37
    * contract) — and only the final mean divides in double (round 6).
    * The OUTPUT schema carries no DECIMAL: lo/hi leave as double (exact —
    * 4-decimal values are double-representable), because engines
    * serialize equal DECIMAL values differently ('13.9000' vs 13.9) and
    * hash-based result comparison breaks on the serialization, not the
    * value. DECIMAL is an internal compute discipline only.
    * Output: group, n_rows, lo, hi, wmean. */
  def winsorizedMeanBy(df: DataFrame, group: String, value: String,
                       pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, "need 0 <= pLo < pHi <= 1")
    val thr = df.groupBy(col(group)).agg(
      round(expr(s"percentile($value, $pLo)"), 4).cast("decimal(18,4)").as("lo"),
      round(expr(s"percentile($value, $pHi)"), 4).cast("decimal(18,4)").as("hi"))
    val clipped = least(greatest(col(value).cast("decimal(18,4)"), col("lo")), col("hi"))
    df.join(broadcast(thr), Seq(group))
      .groupBy(col(group)).agg(
        count(lit(1)).as("n_rows"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        sum(clipped).as("__s"))
      .select(col(group), col("n_rows"),
        col("lo").cast("double").as("lo"), col("hi").cast("double").as("hi"),
        detRound(col("__s").cast("double") / col("n_rows"), 6).as("wmean"))
  }

  /** Bucketed point-in-interval range join. Spark plans a pure non-equi
    * join predicate (`lo <= p AND p <= hi`) as BroadcastNestedLoopJoin —
    * every executor scans the whole broadcast side per row — or, worse, a
    * cartesian product; both are quadratic corpus scans at scale. Mapping
    * each interval onto the coarse buckets it covers (explode of a
    * bounded `sequence`) and each point onto its single bucket turns the
    * predicate into an equi-join on the bucket key plus a residual
    * filter, which Catalyst plans as a regular shuffled hash/SMJ with
    * both sides partitioned — the standard rewrite Spark itself lacks.
    *
    * Each point lands in exactly ONE bucket, so matches are emitted
    * exactly once — no post-join dedup. Replication cost is the interval
    * side only: `span/bucketWidth + 1` copies per interval; size
    * `bucketWidth` near the TYPICAL interval span so replication stays
    * O(1) per row. Intervals with `lo > hi` are dropped (empty range).
    * Both frames keep all their columns (caller avoids name collisions);
    * values must be integral (days, epoch seconds, cents — floor on
    * doubles is bucket-unsafe at negative values' ties). */
  def rangeJoinBucketed(points: DataFrame, pointCol: String,
                        intervals: DataFrame, loCol: String, hiCol: String,
                        bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val p = points.withColumn("__b",
      floor(col(pointCol).cast("long").cast("double") / bucketWidth).cast("long"))
    val iv = intervals.where(col(loCol) <= col(hiCol))
      .withColumn("__b", explode(sequence(
        floor(col(loCol).cast("long").cast("double") / bucketWidth).cast("long"),
        floor(col(hiCol).cast("long").cast("double") / bucketWidth).cast("long"))))
    p.join(iv, Seq("__b"))
      .where(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__b")
  }

  /** Bucketed interval-OVERLAP join — the interval×interval sibling of
    * [[rangeJoinBucketed]] (campaign windows × session spans, speech
    * segments × transcript chunks). Overlap is the closed-interval test
    * `lLo <= rHi AND rLo <= lHi`; Spark again plans the raw non-equi
    * predicate as a nested-loop/cartesian scan, so both sides explode
    * onto the coarse buckets they cover and the join runs as an
    * equi-join on (keys…, bucket) plus the residual overlap filter.
    *
    * Unlike the point case, an overlapping pair shares EVERY bucket in
    * `[bucket(max(lLo,rLo)), bucket(min(lHi,rHi))]` and would duplicate
    * once per shared bucket; the first-shared-bucket identity — keep the
    * pair only where `bucket == bucket(max(lLo,rLo))` — restores
    * exactly-once emission as a per-row filter, with no distinct (a
    * distinct here would be a second full shuffle of the matched set).
    *
    * Scale: replication is `span/bucketWidth + 1` copies per row on BOTH
    * sides, so size `bucketWidth` near the typical span of the WIDER
    * side. `keys` (equi-columns present in both frames, joined by name)
    * sharpen the join key to (keys…, bucket): per-user/per-day overlap
    * joins shuffle-partition by key and bucket together, which also
    * splits a hot key's pairs across its buckets. Empty intervals
    * (`lo > hi`) drop; values must be integral (the [[rangeJoinBucketed]]
    * contract). Both frames keep all their columns; caller avoids name
    * collisions. */
  def intervalOverlapJoin(left: DataFrame, lLo: String, lHi: String,
                          right: DataFrame, rLo: String, rHi: String,
                          bucketWidth: Long,
                          keys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def bucket(c: String): Column =
      floor(col(c).cast("long").cast("double") / bucketWidth).cast("long")
    def spread(df: DataFrame, lo: String, hi: String): DataFrame =
      df.where(col(lo) <= col(hi))
        .withColumn("__b", explode(sequence(bucket(lo), bucket(hi))))
    spread(left, lLo, lHi).join(spread(right, rLo, rHi), keys :+ "__b")
      .where(col(lLo) <= col(rHi) && col(rLo) <= col(lHi))
      .where(col("__b") ===
        floor(greatest(col(lLo), col(rLo)).cast("long").cast("double") / bucketWidth)
          .cast("long"))
      .drop("__b")
  }

  /** Exact heavy-hitter report — the skew DIAGNOSTIC that decides when
    * [[saltedJoin]]/sub-blocking is worth its overhead: top-k keys by
    * row count with each key's share of all rows and its skew ratio
    * (count/mean-count — 1.0 is perfectly uniform; the >10 region is
    * where a single reducer partition melts). Exact, not sketched: the
    * per-key count is one map-side-combined groupBy (the count frame is
    * |keys| rows, far smaller than the input), the 2-scalar total rides
    * a 1-row broadcast, and top-k plans as TakeOrderedAndProject — no
    * global sort, no collect. Null keys count as a key (a null-heavy
    * join column IS the classic skew case). Output: key, n, share, skew. */
  def heavyHitters(df: DataFrame, key: Column, k: Int): DataFrame =
    heavyHittersFromCounts(keyCounts(df, key), k)

  /** The (key, n) count step of [[heavyHitters]] — additive, so the
    * incremental twin lands it per batch. */
  private[graft] def keyCounts(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("key")).agg(count(lit(1)).as("n"))

  /** [[heavyHitters]] over a PRECOMPUTED (key, n) count table — the
    * shared core that lets the incremental runner fold additive per-batch
    * count partials and publish the identical report shape. */
  def heavyHittersFromCounts(counts: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val tot = counts.agg(sum(col("n")).cast("double").as("__tot"),
      count(lit(1)).cast("double").as("__nk"))
    topK(counts.crossJoin(broadcast(tot)), Seq(col("n").desc, col("key")), k)
      .select(col("key"), col("n"),
        detRound(col("n").cast("double") / col("__tot"), 6).as("share"),
        detRound(col("n").cast("double") * col("__nk") / col("__tot"), 6).as("skew"))
  }

  /** Cohort retention matrix — the product-analytics read every events
    * pipeline ends at: users are grouped into the cohort of their FIRST
    * active `unit` bucket, and each (cohort, offset) cell counts how many
    * of them were active `offset` units later; retention = cell /
    * cohort size. Offset 0 is the cohort itself (retention 1.0 by
    * construction — kept, as the denominator row every chart needs).
    *
    * Scale shape: raw events collapse to distinct (user, bucket) pairs
    * FIRST (the only corpus-sized shuffle, same discipline as
    * [[rollingDistinct]]); the cohort derivation is a per-user min over
    * that collapsed table; the matrix aggregate has |cohorts × offsets|
    * groups and cohort sizes broadcast back. Offsets are exact integer
    * day arithmetic (datediff of `unit`-truncated timestamps divided by
    * the unit's day width — both engines agree on Monday-start weeks),
    * and retention divides two exact longs (round 4).
    * Output: cohort, offset, n_active, cohort_size, retention. */
  def cohortRetention(events: DataFrame, user: String, ts: String,
                      unit: String = "week"): DataFrame = {
    val unitDays = unit match {
      case "day" => 1
      case "week" => 7
      case u => throw new IllegalArgumentException(
        s"unit must be day|week (fixed day width keeps offsets exact), got $u")
    }
    val ud = events.filter(col(user).isNotNull)
      .select(col(user).as("__u"), date_trunc(unit, col(ts)).as("__b"))
      .distinct()
    val cohorts = ud.groupBy(col("__u")).agg(min(col("__b")).as("cohort"))
    val sizes = cohorts.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
    ud.join(cohorts, "__u")
      .select(col("cohort"),
        (datediff(col("__b").cast("date"), col("cohort").cast("date"))
          / unitDays).cast("long").as("offset"),
        col("__u"))
      .groupBy(col("cohort"), col("offset"))
      .agg(countDistinct(col("__u")).as("n_active"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("offset"), col("n_active"), col("cohort_size"),
        detRound(col("n_active").cast("double") / col("cohort_size"), 4).as("retention"))
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapMicros`. Two window passes
    * over the same (user, time) partitioning — one shuffle total. */
  def sessionize(events: DataFrame, user: Column, tsMicros: Column,
                 tieBreak: Column, gapMicros: Long): DataFrame = {
    val w = Window.partitionBy(user).orderBy(tsMicros, tieBreak)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__ts_us", tsMicros)
      .withColumn("__new",
        when(lag(col("__ts_us"), 1).over(w).isNull ||
             col("__ts_us") - lag(col("__ts_us"), 1).over(w) > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(wRun))
      .drop("__new", "__ts_us")
  }

  /** Session PROFILE — [[sessionize]]'s output rolled into the one-row
    * engagement scorecard: session count, bounce rate (single-event
    * sessions), and depth/duration percentiles. The corpus-level read
    * next to x14's per-event assignment — a scraper fleet shows up as
    * bounce-heavy with near-zero durations, a session-timeout
    * misconfiguration as a depth collapse between snapshots.
    * Determinism (the x115 rule): p50s interpolate integers at exact
    * halves — emitted RAW; p90s round to whole units.
    *
    * Scale shape: the sessionize window is user-partitioned (bounded
    * groups); the per-session rollup is a (user, session) aggregate
    * with three-number state; the closing profile is ONE row. The
    * exact output percentiles carry the [[graft.operators.TextAnalysis
    * .corpusStats]] caveat. Output: n_sessions, bounce_rate (ROUND 6),
    * p50_depth, p90_depth, p50_dur_us, p90_dur_us. */
  def sessionProfile(events: DataFrame, user: Column, tsMicros: Column,
                     tieBreak: Column, gapMicros: Long): DataFrame = {
    val per = sessionize(events, user, tsMicros, tieBreak, gapMicros)
      .withColumn("__us", tsMicros)
      .groupBy(user.as("__u"), col("session_id"))
      .agg(count(lit(1)).as("__depth"),
        (max(col("__us")) - min(col("__us"))).as("__dur"))
    per.agg(
      count(lit(1)).as("n_sessions"),
      round(sum(when(col("__depth") === 1L, 1L).otherwise(0L)).cast("double")
        / count(lit(1)), 6).as("bounce_rate"),
      expr("percentile(__depth, 0.5)").as("p50_depth"),
      round(expr("percentile(__depth, 0.9)"), 0).cast("long").as("p90_depth"),
      expr("percentile(__dur, 0.5)").as("p50_dur_us"),
      round(expr("percentile(__dur, 0.9)"), 0).cast("long").as("p90_dur_us"))
  }

  /** Active-days HISTOGRAM — how many users were active on exactly d
    * distinct days: the retention-shape read at a glance (a healthy
    * product shows a long tail; a bot cohort shows a spike at the exact
    * day count the farm ran). Two bounded aggregates: (user, day)
    * distinct, per-user day counts, then ≤ |calendar days| histogram
    * rows. Output: days_active, n_users. */
  def activeDaysHistogram(events: DataFrame, user: Column,
                          ts: Column): DataFrame =
    events.filter(user.isNotNull)
      .select(user.as("u"), to_date(ts).as("d")).distinct()
      .groupBy(col("u")).agg(count(lit(1)).as("days_active"))
      .groupBy(col("days_active")).agg(count(lit(1)).as("n_users"))

  /** Session transcripts — the instruction-tuning prep step downstream of
    * [[sessionize]]: each session's turns assembled into ONE ordered
    * sequence (the unit conversational training actually consumes), with
    * the assembled text carried as its md5 so a transcript-level exact
    * dedup or cross-version diff ([[snapshotDiff]]) composes directly
    * without shuffling transcripts. Ordering inside a session is total —
    * (ts, tieBreak) — so the digest is deterministic and cross-engine
    * (the oracle's `string_agg ... ORDER BY` sees identical sequences).
    * Each turn is md5'd BEFORE concatenation — fixed-width inner digests
    * make turn boundaries unambiguous (["a|b"] can never collide with
    * ["a","b"]), the same no-separator-games scheme as [[snapshotDiff]].
    *
    * Scale: the per-session collect is bounded by the session gap
    * contract (a session is minutes of one user's events, never a
    * corpus); the aggregate's group keys are (user, session) — the
    * same cardinality discipline as the funnel (x46). Output:
    * user_key, session_id, n_turns, transcript_md5. */
  def sessionTranscripts(events: DataFrame, user: Column, tsMicros: Column,
                         tieBreak: Column, gapMicros: Long,
                         turn: Column): DataFrame =
    sessionize(events, user, tsMicros, tieBreak, gapMicros)
      .select(user.as("user_key"), col("session_id"),
        struct(tsMicros.as("ts"), tieBreak.as("tb"), turn.as("t")).as("__e"))
      .groupBy(col("user_key"), col("session_id"))
      .agg(count(lit(1)).as("n_turns"),
        md5(array_join(
          transform(array_sort(collect_list(col("__e"))), e => md5(e.getField("t"))),
          "")).as("transcript_md5"))

  /** Event-type transition counts — the Markov-chain read of the event
    * stream (the raw material behind funnel design: which step actually
    * follows which, corpus-wide). Each user's events are totally ordered
    * by `order` (pass (ts, tieBreak) — the [[sessionize]] ordering
    * contract, so ties are deterministic and the oracle's LEAD sees the
    * identical sequence); a transition is (type, next type) for
    * CONSECUTIVE events of the same user, counted over all users. A
    * user's last event has no successor and contributes nothing.
    *
    * Scale: one shuffle — the lead window is partitioned BY USER (never
    * a global order), and the closing count over (from, to) is at most
    * |types|² rows with map-side partials. A hot user serializes only
    * that user's window pass, the same bounded-partition trade as
    * [[sessionize]]. Output: from_type, to_type, n. */
  def transitionCounts(events: DataFrame, user: Column, order: Seq[Column],
                       typeCol: Column): DataFrame = {
    val ordered = order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val w = Window.partitionBy(col("__u"))
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    events
      .select(user.as("__u") +: typeCol.as("from_type") +: ordered: _*)
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-user batch BOUNDARY digest for incremental [[transitionCounts]]:
    * each user's first/last event type in this batch plus the first
    * event's order key (the stitch sort key). A batch's digest derives
    * from the batch ALONE — the retry-stability property the
    * `batch=<id>` overwrite convention needs — and is |users in batch|
    * rows, never event-sized. One map-side-combined aggregate;
    * min_by/max_by over the struct-of-order-columns key, so ties break
    * exactly as [[transitionCounts]]' window order does.
    * Output: user, first_key (struct), first_type, last_type. */
  def transitionBoundaries(events: DataFrame, user: Column,
                           order: Seq[Column], typeCol: Column): DataFrame = {
    val key = struct(order: _*)
    events.groupBy(user.as("user")).agg(
      min(key).as("first_key"),
      min_by(typeCol, key).as("first_type"),
      max_by(typeCol, key).as("last_type"))
  }

  /** Per-key behavioral entropy — Shannon entropy of each user's
    * event-type distribution, the bot/automation tell on the BEHAVIOR
    * axis (x115 reads cadence; this reads variety): a script hammering
    * one endpoint scores ~0 however fast it goes, while organic users
    * spread over the type vocabulary. The [[TextAnalysis.tokenEntropy]]
    * formulation applied to events: entropy = ln(n) − Σ c·ln(c)/n with
    * the Σ as ROUND-6 DECIMAL (order-free, x37) — one shared discipline,
    * two domains.
    *
    * Scale shape: a (key, type) count aggregate with map-side partials
    * (≤ |types| rows per key), then a per-key rollup with three-number
    * state. Single-event keys score 0 exactly. Output: key, n_events,
    * distinct_types, entropy (ROUND 4). */
  def behaviorEntropy(events: DataFrame, key: Column,
                      typeCol: Column): DataFrame =
    behaviorEntropyFromCounts(keyTypeCounts(events, key, typeCol))

  /** The (key, etype, c) count step of [[behaviorEntropy]] and
    * [[profileTwins]] — additive, so both incremental twins land it per
    * batch. */
  private[graft] def keyTypeCounts(events: DataFrame, key: Column,
                                   typeCol: Column): DataFrame =
    events.select(key.as("key"), typeCol.as("etype"))
      .groupBy(col("key"), col("etype")).agg(count(lit(1)).as("c"))

  /** [[behaviorEntropy]] over an already-aggregated (key, etype, c)
    * frame — the (key, type) counts are ADDITIVE (sum-by-key folds any
    * batch split), so this is what the incremental twin persists per
    * batch and re-derives from; ONE entropy definition for both paths
    * (the zipfSlopeFromCounts convention). */
  def behaviorEntropyFromCounts(counts: DataFrame): DataFrame =
    counts
      .groupBy(col("key"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("distinct_types"),
        NumericFunctions.entropyTermSum(col("c")).as("__s"))
      .select(col("key"), col("n_events"), col("distinct_types"),
        NumericFunctions.entropyFromSum(col("n_events"), col("__s")).as("entropy"))

  /** Behavioral TWIN detection — groups of keys (users) whose event-type
    * SHARE profiles collide after quantization, the coordination tell
    * [[behaviorEntropy]] cannot see: a bot farm's accounts each look
    * organically varied on their own, but they are varied in exactly the
    * same way, and independent organic users rarely land on the same
    * quantized type MIX across the whole type vocabulary. Shares (not
    * raw counts) are the profile, so two accounts running the same
    * script at different volumes still collide; `decimals` sets the
    * quantization (1 = deciles of the mix — coarse enough to group,
    * fine enough that a 5-type profile has ~10⁵ cells). The fingerprint
    * is md5 over the canonically-ordered "type:share" list — 32 bytes
    * per user on the twin shuffle regardless of profile width.
    *
    * Canonical order is the COMBINED "type:share" string (not the type
    * alone): with type-only ordering, a type that is a strict prefix of
    * another could order differently against the ':' separator across
    * engines; ordering the string actually hashed makes fingerprint
    * equality engine-independent by construction. Share rounding is
    * HALF_UP, which DuckDB's half-away-from-zero matches on the
    * positive axis; the only exactly-representable half-boundary
    * quotients (.25/.75 at decimals=1) round identically.
    *
    * Scale shape: (key, type) counts with map-side partials, a per-key
    * fold whose state is the key's own type vocabulary (bounded-group
    * discipline, the [[behaviorEntropy]] contract), then one 32-byte-key
    * aggregate. Singleton profiles are dropped AFTER the group count —
    * no per-pair work anywhere, so a 10k-account farm costs one group
    * row, not 10k² pairs. Output: profile, n_keys, min_key, max_key,
    * distinct_types, total_events. */
  def profileTwins(events: DataFrame, key: Column, typeCol: Column,
                   decimals: Int = 1): DataFrame =
    profileTwinsFromCounts(keyTypeCounts(events, key, typeCol), decimals)

  /** [[profileTwins]] over an already-aggregated (key, etype, c) frame —
    * the counts are ADDITIVE (sum-by-key folds any batch split), so the
    * incremental twin persists per-batch count partials and re-derives
    * the twin report from the fold (shares re-quantize from the folded
    * counts, never from partial shares); ONE fingerprint definition for
    * both paths (the [[behaviorEntropyFromCounts]] convention). */
  def profileTwinsFromCounts(counts: DataFrame, decimals: Int = 1): DataFrame =
    counts
      .groupBy(col("key"))
      .agg(sum(col("c")).as("__n"), count(lit(1)).as("__d"),
        collect_list(struct(col("etype"), col("c"))).as("__tc"))
      .withColumn("profile", md5(concat_ws(",", sort_array(transform(
        col("__tc"),
        t => concat(t.getField("etype"), lit(":"),
          detRound(t.getField("c").cast("double") / col("__n"), decimals)))))))
      .groupBy(col("profile"))
      .agg(count(lit(1)).as("n_keys"),
        min(col("key")).as("min_key"), max(col("key")).as("max_key"),
        min(col("__d")).as("distinct_types"),
        sum(col("__n")).as("total_events"))
      .filter(col("n_keys") >= 2)

  /** Hash-split UNIFORMITY — the chi-square read over
    * [[graft.functions.TextFunctions.md5Mod]] bucket occupancies: the
    * audit that justifies every salted sampler, split assigner, and
    * shard router built on that hash (x19/x27/x103/x142/...). Under a
    * healthy hash, chi² concentrates near `buckets − 1`; a key space
    * that correlates with the hash (sequential ids through a weak
    * reduction, adversarial keys) shows up as a multiple of that, and
    * every downstream "deterministic 1% sample" silently stops being
    * 1%. Empty buckets contribute their full expected mass (they are
    * the strongest non-uniformity evidence, not missing data).
    *
    * Scale shape: one `buckets`-group count aggregate (map-side
    * partials), a 1-row total broadcast, per-bucket chi² terms ROUND-10
    * DECIMAL(18,10) exact-summed (order-free). Output: n_rows,
    * present_buckets, min_n, max_n, chi2 (ROUND 4). */
  def hashUniformity(df: DataFrame, key: Column,
                     buckets: Int = 64): DataFrame =
    hashUniformityFromCounts(bucketOccupancy(df, key, buckets), buckets)

  /** The (__b, c) occupancy step of [[hashUniformity]] — additive, so
    * the incremental twin lands it per batch. */
  private[graft] def bucketOccupancy(df: DataFrame, key: Column,
                                     buckets: Int): DataFrame =
    df.select(graft.functions.TextFunctions.md5Mod(key, lit(buckets)).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("c"))

  /** [[hashUniformity]] over an already-aggregated (__b, c) occupancy
    * frame — bucket counts are ADDITIVE, so the incremental twin
    * persists per-batch partials and re-derives chi² from the fold;
    * ONE arithmetic for both paths. */
  def hashUniformityFromCounts(bc: DataFrame, buckets: Int): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val tot = bc.agg(sum(col("c")).as("__n"))
    val e = col("__n").cast("double") / lit(buckets)
    val term = (col("c").cast("double") - e) * (col("c").cast("double") - e) / e
    bc.crossJoin(broadcast(tot))
      .agg(min(col("__n")).as("n_rows"),
        count(lit(1)).as("present_buckets"),
        min(col("c")).as("min_n"), max(col("c")).as("max_n"),
        sum(round(term, 10).cast("decimal(18,10)")).as("__chi"),
        min(e).as("__e"))
      .select(col("n_rows"), col("present_buckets"), col("min_n"),
        col("max_n"),
        round(col("__chi").cast("double") +
          (lit(buckets).cast("double") - col("present_buckets")) * col("__e"),
          4).as("chi2"))
  }

  /** FK ORPHAN audit — rows of a child table whose key has no match in
    * the parent (the dbt `relationships` test as an engine operator):
    * the join-denominator check every Q-family merge silently assumes,
    * surfaced as one row so a feed that starts emitting unknown ids is
    * caught at ingest, not as rows quietly vanishing from an inner join
    * three stages later. Null keys are out of scope (x163 counts
    * those).
    *
    * Scale shape: parent collapses to its DISTINCT key column; the
    * anti-join is one key-hash shuffle (the dedup-family discipline);
    * the report attaches as 1-row broadcasts. Output: n_child,
    * n_orphans, orphan_rate (ROUND 6), distinct_orphan_keys. */
  def fkOrphanAudit(child: DataFrame, key: Column, parent: DataFrame,
                    pkey: Column): DataFrame = {
    val kids = child.filter(key.isNotNull).select(key.as("__k"))
    val orphans = graft.Persist.cut(
      kids.join(parent.select(pkey.as("__pk")).distinct(),
        col("__k") === col("__pk"), "left_anti"))
    val n = kids.agg(count(lit(1)).as("n_child"))
    val o = orphans.agg(count(lit(1)).as("n_orphans"),
      count_distinct(col("__k")).as("distinct_orphan_keys"))
    n.crossJoin(broadcast(o))
      .select(col("n_child"), col("n_orphans"),
        detRound(col("n_orphans").cast("double") / col("n_child"), 6)
          .as("orphan_rate"),
        col("distinct_orphan_keys"))
  }

  /** VALUE profile per group — the numeric-column health read (n,
    * nulls, decimal-exact mean, median, min/max) a metrics pipeline
    * runs per ingest: a payment feed whose `value` mean jumps 100× is
    * a unit-change bug, and nothing else in the monitoring family
    * looks at magnitudes. Mean uses ROUND-6 DECIMAL(28,6) partials
    * (order-free); median rounds to 4 (the x23 output discipline);
    * min/max are exact data values. Groups are bounded (≤ |types|).
    * Output: group, n, n_null, mean_v (ROUND 4), p50_v (ROUND 4),
    * min_v, max_v. */
  def valueProfile(df: DataFrame, group: Column, value: Column): DataFrame = {
    val v = value.cast("double")
    df.select(group.as("grp"), v.as("__v"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(round(col("__v"), 6).cast("decimal(28,6)")).as("__s"),
        count(col("__v")).as("__nv"),
        round(expr("percentile(__v, 0.5)"), 4).as("p50_v"),
        min(col("__v")).as("min_v"), max(col("__v")).as("max_v"))
      .select(col("grp"), col("n"), col("n_null"),
        when(col("__nv") > 0L,
          detRound(col("__s").cast("double") / col("__nv"), 4)).as("mean_v"),
        col("p50_v"), col("min_v"), col("max_v"))
  }

  /** NULL profile — per-column null counts and rates in long format:
    * the dbt-style schema-health check a pipeline runs per ingest,
    * because a silent upstream schema change usually lands as a column
    * going 100% null long before anything crashes (the x146 FD audit
    * reads value relationships; this reads presence). ONE aggregate
    * pass over all columns (map-side partials, |cols|+1 counters of
    * state) reshaped by stack — never a pass per column. Output:
    * column_name, n_rows, n_nulls, null_rate (ROUND 6). */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    // names are spliced into a stack()/selectExpr SQL string below — a
    // quote/backtick/paren in a name would break (or rewrite) the
    // expression, so admit plain identifiers only
    cols.foreach(c => require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"column name must match [A-Za-z_][A-Za-z0-9_]*, got '$c'"))
    val aggs = count(lit(1)).as("__n") +: cols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"))
    val stackArgs = cols.map(c => s"'$c', __null_$c").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS (column_name, n_nulls)",
        "__n AS n_rows")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        detRound(col("n_nulls").cast("double") / col("n_rows"), 6)
          .as("null_rate"))
  }

  /** Grouped Pearson CORRELATION — exact-decimal moment sums per group,
    * one closed-form division at the end: the metric-integrity check
    * behind any gate built on a proxy (x154 asks "is quality_score just
    * length in disguise, per source?" — a source where the two correlate
    * ≈1 is gaming the x18/x148 gates with padding, and a weighted sum
    * would never show it). The five moment sums are ROUND-6
    * DECIMAL(28,6) partials (order-free, the x37 discipline; 28 digits
    * so squared sums survive corpus-scale magnitudes), the final r is
    * one double expression detRound 4 (+0.0 for the signed-zero class);
    * zero-variance groups surface null, never a division blow-up.
    *
    * Scale shape: ONE partial-aggregated pass, |groups| output rows,
    * six-number state. Output: group, n, r. */
  def corrBy(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    def m(c: Column) = sum(round(c, 6).cast("decimal(28,6)"))
    val xd = x.cast("double"); val yd = y.cast("double")
    val agg = df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n"), m(xd).as("__sx"), m(yd).as("__sy"),
        m(xd * xd).as("__sxx"), m(yd * yd).as("__syy"), m(xd * yd).as("__sxy"))
    val nd = col("n").cast("double")
    def d(c: Column) = c.cast("double")
    val varX = nd * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))
    val varY = nd * d(col("__syy")) - d(col("__sy")) * d(col("__sy"))
    val cov = nd * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))
    agg.select(col("grp"), col("n"),
      when(varX > 0.0 && varY > 0.0,
        // detRound: the closed-form r can land on exact 4-decimal
        // halves (sf1.0 x158 row 1) where engine ROUNDs disagree
        NumericFunctions.detRound(cov / sqrt(varX * varY), 4) + lit(0.0)).as("r"))
  }

  /** SEASONALITY read — lag-k autocorrelation of the per-key bucket
    * counts on the [[resampleCounts]] spine: r(lag 7) ≈ 1 on a daily
    * spine is the weekly cycle, r(lag 1) ≈ 0 on a feed that should be
    * smooth is a flapping collector. The x145 hour-profile shows the
    * SHAPE of a cycle assumed known; this DETECTS which period a key
    * actually has, which is what epoch planning (x139) and anomaly
    * alarms (x42) should be conditioned on before assuming
    * day-over-day comparability. Pairs (n_t, n_{t+k}) come from the
    * gap-filled dense spine — skipping empty buckets would splice
    * non-adjacent days together and fabricate correlation — and each
    * lag's r is the exact-moment Pearson of [[corrBy]] (ONE shared
    * definition with x154/x158, decimal partials, detRound 4).
    *
    * Scale shape: the spine is activity-span/unit per key (the
    * resample lever); each of the `maxLag` self-joins is equi-keyed on
    * (key, bucket) — bounded-group, no window — and ships (key, two
    * longs); the moment fold is |keys|·maxLag rows of state. maxLag is
    * a CONSTANT (≤ a few dozen): the union is plan-width, not
    * data-width. Output: key, lag, n_pairs, r (NULL on zero-variance
    * series, the corrBy contract). */
  def seasonality(events: DataFrame, key: String, ts: String,
                  maxLag: Int, unit: String = "day"): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64, "maxLag must lie in [1, 64]")
    require(Seq("hour", "day", "week").contains(unit),
      s"unit must be hour|day|week, got $unit")
    val spine = graft.Persist.cut(resampleCounts(events, key, ts, unit))
    val pairs = (1 to maxLag).map { k =>
      val future = spine.select(col(key),
        (col("bucket") - expr(s"interval $k $unit")).as("bucket"),
        col("n_events").as("__y"))
      spine.join(future, Seq(key, "bucket"))
        .select(col(key), lit(k.toLong).as("lag"),
          col("n_events").as("__x"), col("__y"))
    }.reduce(_ unionAll _)
    corrBy(pairs, struct(col(key), col("lag")), col("__x"), col("__y"))
      .select(col("grp").getField(key).as(key),
        col("grp").getField("lag").as("lag"),
        col("n").as("n_pairs"), col("r"))
  }

  /** Exact two-sample KS drift — per group, the Kolmogorov-Smirnov
    * statistic of its `value` distribution against the POOLED corpus:
    * sup_v |F_g(v) − F_all(v)|, computed EXACTLY (no binning). The
    * binned PSI (x102) needs a bucket policy and goes blind inside a
    * bucket; KS is the bin-free complement — the number that flags a
    * source whose length distribution quietly shifted even when every
    * PSI bucket still holds its mass. Both step functions share jump
    * points ⊂ the pooled distinct values, and between jumps both are
    * constant, so the sup IS the max over distinct values — evaluated
    * on a DENSE (group × value) spine (a group missing a value still
    * has an ECDF there; skipping it would under-read the gap).
    *
    * Exactness: per (g, v) the difference is |cum_g·n_all −
    * pool_cum·n_g| / (n_g·n_all); the denominator is CONSTANT per
    * group, so the max is taken over exact DECIMAL(38,0) integer
    * numerators and ONE division per group passes through double
    * (detRound 6) — order- and partition-independent.
    *
    * Scale shape: the count pass is a (group, value) aggregate
    * (map-side partials); the spine is |distinct values| × |groups|
    * with the group list BROADCAST; the cumulative window is
    * PARTITIONED BY GROUP over the value-domain-bounded spine (doc
    * lengths, scores — never row count); the pooled ECDF is a per-value
    * SUM of the group cums (no global window anywhere).
    *
    * The value-domain bound is ENFORCED, not just documented:
    * `maxDistinct` (default 100k) caps the spine's value axis, and a
    * continuous double column pointed here without thought fails loud
    * with the fix in the message instead of building a corpus-sized
    * spine. `quantize = Some(width)` is the sanctioned path for such
    * columns — values bucket to `floor(v / width) · width` BEFORE the
    * ECDF (the KS of the quantized distributions, exact at the chosen
    * resolution — the standard continuous-KS-at-scale trade). Defaults
    * (no quantization, 100k cap) leave every existing caller — and the
    * x180 oracle — bit-identical. Output: grp, n, ks. */
  def ksDrift(df: DataFrame, group: Column, value: Column,
              maxDistinct: Long = 100000L,
              quantize: Option[Double] = None): DataFrame = {
    require(maxDistinct >= 1, "maxDistinct must be positive")
    quantize.foreach(w => require(w > 0, "quantize width must be positive"))
    val v0 = quantize match {
      case Some(w) => floor(value.cast("double") / lit(w)) * lit(w)
      case None => value
    }
    val c = graft.Persist.cut(
      df.groupBy(group.as("grp"), v0.as("v")).agg(count(lit(1)).as("__c")))
    // the guard reads the already-materialized count frame — one tiny
    // 1-row job, never a second corpus scan
    val nv = c.select(col("v")).distinct().count()
    require(nv <= maxDistinct,
      s"ksDrift: value domain has $nv distinct values > maxDistinct=" +
        s"$maxDistinct — the dense spine is |distinct| x |groups|. " +
        "Quantize first (quantize = Some(width)) or raise maxDistinct " +
        "knowingly for a genuinely bounded domain.")
    val dense = c.select(col("v")).distinct()
      .crossJoin(broadcast(c.select(col("grp")).distinct()))
      .join(c, Seq("grp", "v"), "left_outer")
      .select(col("grp"), col("v"), coalesce(col("__c"), lit(0L)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = graft.Persist.cut(
      dense.select(col("grp"), col("v"), sum(col("__c")).over(w).as("__cum")))
    val ng = cum.groupBy(col("grp")).agg(max(col("__cum")).as("__ng"))
    val nAll = ng.agg(sum(col("__ng")).as("__nall"))
    val pool = cum.groupBy(col("v")).agg(sum(col("__cum")).as("__pool"))
    cum.join(pool, "v").join(broadcast(ng), "grp").crossJoin(broadcast(nAll))
      .select(col("grp"), col("__ng"),
        abs(col("__cum").cast("decimal(38,0)") * col("__nall") -
          col("__pool").cast("decimal(38,0)") * col("__ng")).as("__num"),
        (col("__ng").cast("decimal(38,0)") * col("__nall")).as("__den"))
      .groupBy(col("grp"))
      .agg(max(col("__ng")).as("n"),
        detRound(max(col("__num")).cast("double") /
          max(col("__den")).cast("double"), 6).as("ks"))
  }

  /** Corpus-mass CONCENTRATION — the Gini coefficient of per-group
    * weight totals: 0 = every source contributes equally, → 1 = one
    * source IS the corpus. The x79 KL and x59 shares read the mixture
    * against a target; Gini is the target-free inequality number a
    * mixture plan quotes first ("93% of bytes come from 2 of 40
    * feeds"). Exact integer arithmetic end-to-end: with groups ranked
    * ascending by (mass, name) — a strict total order, so ties are
    * deterministic — G = (2·Σ rank·mass − (n+1)·Σmass) / (n·Σmass);
    * ONE long-arithmetic quotient under detRound 6.
    *
    * Scale shape: one group aggregate collapses the corpus to
    * |groups| rows; the rank is a count-of-peers-below BROADCAST
    * self-join on that aggregated frame (|groups|² pairs of longs —
    * sources, not rows), never a window over data. Output: n_groups,
    * total_mass, gini. */
  def concentrationGini(df: DataFrame, group: Column, weight: Column): DataFrame = {
    val m = graft.Persist.cut(
      df.groupBy(group.as("grp")).agg(sum(weight).cast("long").as("mass")))
    val rk = m.as("a").join(broadcast(m.select(col("grp").as("bg"), col("mass").as("bm"))),
        col("bm") < col("mass") ||
          (col("bm") === col("mass") && col("bg") <= col("grp")))
      .groupBy(col("grp"), col("mass")).agg(count(lit(1)).as("__rank"))
    rk.agg(count(lit(1)).as("n_groups"), sum(col("mass")).as("total_mass"),
        sum(col("__rank") * col("mass")).as("__rm"))
      .select(col("n_groups"), col("total_mass"),
        when(col("total_mass") > 0L,
          detRound((lit(2L) * col("__rm") - (col("n_groups") + lit(1L)) * col("total_mass"))
            .cast("double") /
            (col("n_groups") * col("total_mass")).cast("double"), 6))
          .as("gini"))
  }

  /** Shard-layout PLANNER — the physical-layout arithmetic behind
    * [[graft.sinks.TableSink.compact]]'s sizing, surfaced as a report:
    * per stratum (source / partition key), total payload bytes, the
    * shard count a `targetBytes` policy produces, and the mean fill —
    * the number that says which partitions will write straggler-sized
    * files (fill → 0 means a stratum writes one nearly-empty shard per
    * ingest; fill → 1 means clean packing). At 100 TB the difference
    * between 10⁵ right-sized files and 10⁷ stragglers is scan-planning
    * time, and this report prices a partitioning policy BEFORE the
    * write. Integer ceil arithmetic replays cross-engine exactly.
    *
    * Scale shape: one stratum byte-sum aggregate (map-side partials),
    * then |strata| rows of arithmetic. Output: stratum, total_bytes,
    * n_shards, mean_fill (ROUND 6). */
  def shardPlan(df: DataFrame, stratum: Column, bytes: Column,
                targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "target shard size must be positive")
    df.groupBy(stratum.as("stratum"))
      .agg(sum(bytes).cast("long").as("total_bytes"))
      .select(col("stratum"), col("total_bytes"),
        // integer ceil via `div`, never a double round-trip (exact at
        // any byte magnitude)
        greatest(expr(s"(total_bytes + ${targetBytes - 1}) div ${targetBytes}L"),
          lit(1L)).as("n_shards"))
      .select(col("stratum"), col("total_bytes"), col("n_shards"),
        detRound(col("total_bytes").cast("double") /
          (col("n_shards") * lit(targetBytes)).cast("double"), 6).as("mean_fill"))
  }

  /** Conversion-LAG cohorts — the funnel's time axis at per-user grain:
    * for each user, the lag from their FIRST `fromType` event to their
    * first `toType` event at-or-after it, rolled up by the week the
    * user entered the funnel. x46 counts in-session conversions and
    * x132 times adjacent hops; this reads the days-later journey (and
    * whether this month's cohorts convert slower than last month's —
    * the product-regression read). Non-converting users stay in
    * `n_users` so the rate denominator is honest.
    *
    * Determinism at 1e10-µs magnitude (the x115 rule): p50 interpolates
    * integer µs at exact halves — emitted RAW; p90 interpolates at an
    * engine-shape-sensitive fraction — rounded to whole µs.
    *
    * Scale shape: two filtered per-user min aggregates (map-side
    * partials); the candidate join ships (user, two timestamps) and
    * its groups are the user's own toType events (bounded-group
    * contract); the cohort rollup is ≤ |weeks| groups with exact
    * percentiles under the x56 contract. Output: cohort (date),
    * n_users, n_converted, conv_rate (ROUND 6), p50_lag_us,
    * p90_lag_us. */
  def conversionLag(events: DataFrame, user: Column, ts: Column,
                    typeCol: Column, fromType: String,
                    toType: String): DataFrame = {
    val f = events.filter(typeCol === fromType)
      .groupBy(user.as("u")).agg(min(ts).as("__f"))
    val t = events.filter(typeCol === toType)
      .select(user.as("u"), ts.as("__t"))
    f.join(t, Seq("u"), "left_outer")
      .groupBy(col("u"), col("__f"))
      .agg(min(when(col("__t") >= col("__f"), col("__t"))).as("__c"))
      .select(date_trunc("week", col("__f")).cast("date").as("cohort"),
        (unix_micros(col("__c")) - unix_micros(col("__f"))).as("__lag"))
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_users"),
        count(col("__lag")).as("n_converted"),
        detRound(count(col("__lag")).cast("double") / count(lit(1)), 6)
          .as("conv_rate"),
        expr("percentile(__lag, 0.5)").as("p50_lag_us"),
        round(expr("percentile(__lag, 0.9)"), 0).cast("long").as("p90_lag_us"))
  }

  /** Functional-dependency AUDIT — does `det` determine `dep` in this
    * table, and where does it not: per determinant value, the number of
    * distinct dependent values, the majority dependent and its share.
    * The data-profiling read behind routing assumptions a pipeline makes
    * silently (one source ⇒ one language feeds the x127 budget; one
    * order ⇒ one route feeds the Q-family merges) — when the share drops
    * below 1.0 the assumption is leaking rows, and the report says which
    * keys and how badly. NULL dependents count as a value (a null lang
    * IS a violation of "source determines lang").
    *
    * Scale shape: one (det, dep) count aggregate with map-side partials,
    * then a per-det rollup with bounded state (≤ |dep-vocabulary| rows
    * per key); the majority pick is min_by over (−n, dep), never a
    * window. Output: det, n_rows, distinct_dep, major_dep, major_share
    * (ROUND 6), is_fd. */
  def functionalDependencyAudit(df: DataFrame, det: Column,
                                dep: Column): DataFrame =
    functionalDependencyAuditFromCounts(dependencyCounts(df, det, dep))

  /** The (det, dep, c) count step of [[functionalDependencyAudit]], NULL
    * dependents counted as `__null__` — additive, so the incremental
    * twin lands it per batch. */
  private[graft] def dependencyCounts(df: DataFrame, det: Column,
                                      dep: Column): DataFrame =
    df.select(det.as("det"),
        coalesce(dep.cast("string"), lit("__null__")).as("dep"))
      .groupBy(col("det"), col("dep")).agg(count(lit(1)).as("c"))

  /** [[functionalDependencyAudit]] over an already-aggregated
    * (det, dep, c) frame — the counts are ADDITIVE, so the incremental
    * twin persists per-batch partials and re-derives the audit from the
    * fold (a violation arriving in a LATER batch still flips the key);
    * ONE definition for both paths. */
  def functionalDependencyAuditFromCounts(dc: DataFrame): DataFrame = {
    val tieKey = struct((-col("c")).as("a"), col("dep").as("b"))
    dc.groupBy(col("det"))
      .agg(sum(col("c")).as("n_rows"),
        count(lit(1)).as("distinct_dep"),
        min_by(col("dep"), tieKey).as("major_dep"),
        min_by(col("c"), tieKey).as("__mc"))
      .select(col("det"), col("n_rows"), col("distinct_dep"),
        col("major_dep"),
        detRound(col("__mc").cast("double") / col("n_rows"), 6).as("major_share"),
        (col("distinct_dep") === 1L).as("is_fd"))
  }

  /** Hour-of-day activity profile per event TYPE — the seasonality axis
    * of the behavior family (x115 reads per-user cadence, x136 per-user
    * variety; this reads the clock): organic event types follow the
    * day/night curve, while a cron-driven or farm-driven type runs flat
    * (high hour-entropy, low peak share) or needle-peaked (one hot
    * hour). `peak_hour` ties break hour-asc; entropy is the
    * [[behaviorEntropy]] formulation over hour buckets (ROUND-6 DECIMAL
    * partial sum, order-free).
    *
    * Scale shape: one (type, hour) count aggregate with map-side
    * partials (≤ 24 rows per type), then a per-type rollup with
    * five-number state — the modal pick is min_by over (−n, hour), never
    * a window. Output: event_type, n_events, distinct_hours, peak_hour,
    * peak_share (ROUND 4), hour_entropy (ROUND 4). */
  def typeHourProfile(events: DataFrame, typeCol: Column,
                      ts: Column): DataFrame =
    typeHourProfileFromCounts(typeHourCounts(events, typeCol, ts))

  /** The (event_type, h, c) count step of [[typeHourProfile]] — additive,
    * so the incremental twin lands it per batch. */
  private[graft] def typeHourCounts(events: DataFrame, typeCol: Column,
                                    ts: Column): DataFrame =
    events.select(typeCol.as("event_type"), hour(ts).cast("long").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))

  /** [[typeHourProfile]] over an already-aggregated (event_type, h, c)
    * frame — (type, hour) counts are ADDITIVE, so the incremental twin
    * persists per-batch partials and re-derives the profile from the
    * fold; ONE definition for both paths (the
    * [[behaviorEntropyFromCounts]] convention). */
  def typeHourProfileFromCounts(counts: DataFrame): DataFrame = {
    val tieKey = struct((-col("c")).as("a"), col("h").as("b"))
    counts.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("distinct_hours"),
        min_by(col("h"), tieKey).as("peak_hour"),
        min_by(col("c"), tieKey).as("__pc"),
        NumericFunctions.entropyTermSum(col("c")).as("__s"))
      .select(col("event_type"), col("n_events"), col("distinct_hours"),
        col("peak_hour"),
        detRound(col("__pc").cast("double") / col("n_events"), 4).as("peak_share"),
        NumericFunctions.entropyFromSum(col("n_events"), col("__s")).as("hour_entropy"))
  }

  /** Self-transition SHARE — what fraction of each type's outgoing hops
    * land back on ITSELF: the retry-loop/stuck-client tell on the
    * transition graph (x107 publishes the full matrix; this is the
    * diagonal read a dashboard alarms on — organic flows hop between
    * types, a wedged poller emits view→view→view). One rollup over the
    * audited [[transitionCounts]] frame: ≤ |types|² rows in, ≤ |types|
    * out. Output: from_type, out_n, self_n, self_share (ROUND 6). */
  def selfLoopShare(events: DataFrame, user: Column, order: Seq[Column],
                    typeCol: Column): DataFrame =
    transitionCounts(events, user, order, typeCol)
      .groupBy(col("from_type"))
      .agg(sum(col("n")).as("out_n"),
        sum(when(col("from_type") === col("to_type"), col("n"))
          .otherwise(0L)).as("self_n"))
      .select(col("from_type"), col("out_n"), col("self_n"),
        detRound(col("self_n").cast("double") / col("out_n"), 6)
          .as("self_share"))

  /** Per-transition LATENCY profile — [[transitionCounts]] with the time
    * axis attached: for each (from_type → to_type) edge, how long the hop
    * takes (n, min, p50, p90, max in µs). The conversion-latency read a
    * funnel owner tunes against (x46 counts conversions; this says how
    * SLOW they are), and the bot tell on the other tail (machine-speed
    * hops cluster at near-zero gaps).
    *
    * Scale shape: one user-partitioned lead window (the x107/x115 spec
    * key, plan-pinned shape) into a ≤ |types|² -group aggregate with
    * map-side partials. Percentiles are exact within bounded groups (the
    * x56 contract). Determinism at 1e10-µs magnitude (the x115 lesson):
    * p50 is emitted RAW (midpoints are exact halves — bit-identical);
    * p90 interpolates at an irrational-ish fraction where engine formula
    * shape could differ in the last ulp, so it rounds to WHOLE µs — an
    * ulp (~1e-6 at this magnitude) cannot move an integer boundary.
    * Output: from_type, to_type, n, min_gap_us, p50_us, p90_us,
    * max_gap_us. */
  def transitionLatency(events: DataFrame, user: Column, order: Seq[Column],
                        typeCol: Column, tsUs: Column): DataFrame = {
    val ordered = order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val w = Window.partitionBy(col("__u"))
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    events
      .select(user.as("__u") +: typeCol.as("from_type") +: tsUs.as("__t") +:
        ordered: _*)
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .withColumn("__gap", lead(col("__t"), 1).over(w) - col("__t"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"),
        min(col("__gap")).as("min_gap_us"),
        expr("percentile(__gap, 0.5)").as("p50_us"),
        round(expr("percentile(__gap, 0.9)"), 0).cast("long").as("p90_us"),
        max(col("__gap")).as("max_gap_us"))
  }

  /** Stitch cross-batch transitions from a union of per-batch
    * [[transitionBoundaries]] digests: per user, order the batch digests
    * by `first_key` and count (earlier batch's last_type → next batch's
    * first_type) for consecutive digests. Within-batch partials plus
    * these stitches equal the one-pass [[transitionCounts]] over the
    * whole corpus EXACTLY WHEN batches partition each user's timeline
    * into contiguous runs (time-ordered append ingest — the incremental
    * runners' standing contract; an interleaved backfill belongs on the
    * batch path). The window is per-user over |batches| rows, not
    * events. Output: from_type, to_type, n. */
  def stitchTransitions(boundaries: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user")).orderBy(col("first_key"))
    boundaries
      .withColumn("to_type", lead(col("first_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("last_type").as("from_type"), col("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-group robust outliers via median/MAD — the heavy-tail-safe twin
    * of z-scoring: mean and stddev are themselves dragged by the
    * outliers they're supposed to find (one 10⁶-token doc inflates σ
    * until nothing flags), while median and MAD have a 50% breakdown
    * point — the curation-grade "is this doc's length/quality freakish
    * FOR ITS GROUP" signal. Flags |x − median| > k·MAD. When ≥ half a
    * group's values are identical, MAD = 0 and ANY deviation flags — the
    * standard MAD caveat, left to the caller (it is usually the right
    * answer for a boilerplate-dominated group).
    *
    * Same scale discipline as [[winsorizedMeanBy]]/[[quantileBucketsBy]]:
    * two exact grouped percentiles (bounded-group contract) broadcast
    * back onto narrow passes — no rangepartitioning, no window, the
    * value column crosses no extra shuffle. Exactness: medians round to
    * DECIMAL(18,4); deviations are exact decimal subtractions; the flag
    * compares doubles derived from identical exact decimals with a
    * shared k — boundary ties (|dev| = k·MAD) resolve identically in
    * both engines. med/mad leave as double (4-decimal values are
    * double-exact; DECIMAL in an output schema breaks hash-based result
    * comparison on serialization alone — internal discipline only).
    * Output: id, group, value, med, mad, is_outlier. */
  def madOutliersBy(df: DataFrame, group: String, id: String, value: String,
                    k: Double = 3.0): DataFrame = {
    // med is broadcast under BOTH dev consumers (the MAD aggregate and
    // the final scoring join): materialize the per-group medians once or
    // the exact-percentile aggregate runs per consumer
    val med = graft.Persist.cut(df.groupBy(col(group)).agg(
      round(expr(s"percentile($value, 0.5)"), 4).cast("decimal(18,4)").as("med")))
    val dev = df.join(broadcast(med), Seq(group))
      .withColumn("__ad", abs(col(value).cast("decimal(18,4)") - col("med")))
    val mad = dev.groupBy(col(group)).agg(
      round(expr("percentile(__ad, 0.5)"), 4).cast("decimal(18,4)").as("mad"))
    dev.join(broadcast(mad), Seq(group))
      .select(col(id), col(group), col(value),
        col("med").cast("double").as("med"), col("mad").cast("double").as("mad"),
        (col("__ad").cast("double") > lit(k) * col("mad").cast("double"))
          .as("is_outlier"))
  }

  /** Snapshot delta — the ops read behind every corpus version bump:
    * which keys were ADDED, REMOVED, or CHANGED between two snapshots
    * (yesterday's master vs today's, the pre- and post-state of a
    * backfill, two sides of a [[graft.sinks.SnapshotStore]] rotation).
    * Unchanged keys are filtered out — at 100 TB the overwhelming
    * majority — so the result is audit-sized, not corpus-sized.
    *
    * Change detection compares md5 over the concatenation of PER-COLUMN
    * md5 digests — fixed-width inner digests make column boundaries
    * unambiguous without separator games (("ab","c") can never collide
    * with ("a","bc")) — so the full-outer join carries keys and 32-byte
    * digests, never the compared payloads: the [[graft.operators.Dedup
    * .exact]] shuffle discipline applied to diffing. One exchange per
    * side on the key columns. A null compare column digests to a marker
    * distinct from any md5 hex, so null-vs-empty edits surface as
    * changed. Output: keys..., change in {added, removed, changed}. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String], compare: Seq[String]): DataFrame = {
    require(keys.nonEmpty && compare.nonEmpty, "need key and compare columns")
    def digest(df: DataFrame, as: String) =
      df.select(keys.map(col) :+ md5(concat(
        compare.map(c => coalesce(md5(col(c).cast("string")), lit("-"))): _*)).as(as): _*)
    digest(oldSnap, "__oh")
      .join(digest(newSnap, "__nh"), keys, "full_outer")
      .select(keys.map(col) :+
        when(col("__oh").isNull, "added")
          .when(col("__nh").isNull, "removed")
          .when(col("__oh") =!= col("__nh"), "changed").as("change"): _*)
      .filter(col("change").isNotNull)
  }

  /** Population-stability-index drift report between two corpus
    * snapshots — the monitoring statistic a production pipeline
    * computes per numeric feature after every ingest (PSI < 0.1
    * stable, 0.1–0.25 drifting, > 0.25 act): bucket the BASELINE
    * distribution into `buckets` exact quantile bins, count both
    * sides into those FIXED bins, and score Σ (p−q)·ln(p/q). The
    * complement to [[snapshotDiff]] (row-level) and x79's source KL
    * (term-level): distribution-level drift on any numeric column.
    *
    * Determinism: thresholds are exact percentiles over the baseline
    * rounded to 4 (the pinned quantile_cont parity), bucket assignment
    * is an integer `size(filter(thr, t -> v > t))` — no float compare
    * ambiguity beyond the rounded thresholds — and the add-½ smoothed
    * shares (empty bins stay finite) feed identical double expressions
    * on both engines, each ROUND-6. Per-bucket terms are published, so
    * the total is an exact client-side sum of 6-decimal values.
    *
    * Scale shape: one percentile aggregate over the baseline (the
    * thresholds broadcast as ONE array row), two bucket-count
    * aggregates with map-side partials (≤ `buckets` groups), a
    * `buckets`-row spine join, and a 2-scalar totals broadcast —
    * nothing corpus-sized past the counts, no window, no sort.
    * Output: bucket (0-based), p_old, p_new, psi_term (round 6). */
  def psiDrift(baseline: DataFrame, recent: DataFrame, value: String,
               buckets: Int = 10): DataFrame =
    psiAgainst(recent, psiBaseline(baseline, value, buckets), value)

  /** The persistable PSI reference: per-bucket baseline counts with the
    * ROUND-4 quantile thresholds replicated onto every row (one small
    * artifact a monitoring runner stores ONCE and probes daily — the
    * "state, not history" discipline applied to drift: scoring a new
    * batch never re-reads the reference corpus). Schema: bucket, co,
    * thr ARRAY<DOUBLE>. */
  def psiBaseline(baseline: DataFrame, value: String,
                  buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "need at least two buckets")
    val pcts = (1 until buckets).map(i => i.toDouble / buckets)
    val thr = baseline
      .agg(expr(s"percentile($value, array(${pcts.mkString(", ")}))").as("__t"))
      .select(transform(col("__t"), t => round(t, 4)).as("__t"))
    baseline.sparkSession.range(buckets).select(col("id").cast("int").as("__b"))
      .join(bucketCounts(baseline, thr, value, "__co"), Seq("__b"), "left_outer")
      .crossJoin(broadcast(thr))
      .select(col("__b").cast("long").as("bucket"),
        coalesce(col("__co"), lit(0L)).as("co"), col("__t").as("thr"))
  }

  /** Score a batch against a STORED [[psiBaseline]] — the incremental
    * monitoring read: thresholds come off the artifact (no percentile
    * pass), the batch buckets in one narrow projection, and the PSI
    * formula runs over (stored count, batch count) pairs. Exactly
    * equals [[psiDrift]] over the original frames (spec-pinned). */
  def psiAgainst(recent: DataFrame, baseline: DataFrame,
                 value: String): DataFrame = {
    // every artifact row replicates the same thresholds; any one row works
    val thr = broadcast(baseline.select(col("thr").as("__t")).limit(1))
    val joined = baseline
      .select(col("bucket").cast("int").as("__b"), col("co").as("__co"))
      .join(bucketCounts(recent, thr, value, "__cn"), Seq("__b"), "left_outer")
      .select(col("__b"), col("__co"), coalesce(col("__cn"), lit(0L)).as("__cn"))
    val tot = joined.agg(sum(col("__co")).cast("double").as("__no"),
      sum(col("__cn")).cast("double").as("__nn"),
      count(lit(1)).cast("double").as("__k"))
    val p = (col("__co").cast("double") + lit(0.5)) /
      (col("__no") + lit(0.5) * col("__k"))
    val q = (col("__cn").cast("double") + lit(0.5)) /
      (col("__nn") + lit(0.5) * col("__k"))
    joined.crossJoin(broadcast(tot))
      .select(col("__b").cast("long").as("bucket"),
        // detRound: the smoothed shares are rational quotients of exact
        // counts; psi_term keeps engine round (its argument passes
        // through ln, so it cannot land on an exact half)
        detRound(p, 6).as("p_old"), detRound(q, 6).as("p_new"),
        round((p - q) * log(p / q), 6).as("psi_term"))
  }

  private def bucketCounts(df: DataFrame, thr: DataFrame, value: String,
                           as: String): DataFrame =
    df.crossJoin(broadcast(thr))
      .select(size(filter(col("__t"),
        t => col(value).cast("double") > t)).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as(as))

  /** Per-key inter-arrival profile: event count, min/mean/median/max gap
    * (µs) between consecutive events under the `order` total order, and the
    * count of BURST gaps (≤ `burstUs`) — the bot/scraper-cadence signal a
    * data pipeline filters traffic sources on (human sessions arrive in
    * hours, scripts in seconds).
    *
    * One key-partitioned LAG window ([[transitionCounts]]' exact
    * discipline — partition size is a key's own event count, never the
    * stream) feeding one map-side-combined aggregate. Gaps are exact
    * BIGINT µs; mean and median convert to DOUBLE directly with NO
    * output-side ROUND (the x90 rule): a ROUND(·, 6) at 1e10-µs magnitude
    * is sub-ulp, where the engines' rounding implementations differ —
    * whereas the raw quotient (IEEE division of identical exact integers)
    * and the raw interpolated median (µs midpoints are exactly `.0`/`.5`,
    * both representable) are bit-identical by construction. Keys with a
    * single event emit null gap stats and 0 bursts — surfaced, never
    * dropped.
    * Output: key, n_events, min_gap_us, max_gap_us, mean_gap_us,
    *         p50_gap_us, bursts. */
  /** Per-key, per-batch FOLDABLE digest for incremental [[interArrival]]:
    * within-batch gap partials (count/sum/min/max/bursts) plus the batch
    * boundary (first order key, first/last µs) — derived from the batch
    * ALONE (retry-stable under the `batch=<id>` overwrite convention) and
    * |keys in batch| rows, never event-sized. The exact MEDIAN is
    * deliberately absent: it does not fold from bounded partials, so it
    * stays a batch-report column ([[interArrival]]) rather than shipping
    * an approximation that would silently diverge.
    * Output: key, n, gap_sum, gap_cnt, gap_min, gap_max, bursts,
    *         first_key (struct), first_us, last_us. */
  def interArrivalPartials(events: DataFrame, key: Column, order: Seq[Column],
                           tsUs: Column, burstUs: Long): DataFrame = {
    val ordered = order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val w = Window.partitionBy(col("__u"))
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    events
      .select(key.as("__u") +: tsUs.as("__t") +: ordered: _*)
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(w))
      .groupBy(col("__u").as("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("__gap")).as("gap_sum"),
        count(col("__gap")).as("gap_cnt"),
        min(col("__gap")).as("gap_min"),
        max(col("__gap")).as("gap_max"),
        sum(when(col("__gap") <= burstUs, 1L).otherwise(0L)).as("bursts"),
        min(struct(order.indices.map(i => col(s"__o$i")): _*)).as("first_key"),
        min(col("__t")).as("first_us"),
        max(col("__t")).as("last_us"))
  }

  /** Fold a union of per-batch [[interArrivalPartials]] digests into the
    * inter-arrival report: within-batch partials merge additively, and the
    * CROSS-batch gaps (a key's first event of batch t against its last of
    * batch t−1, digests ordered by `first_key`) stitch in — the
    * [[stitchTransitions]] contract, exact when batches partition each
    * key's timeline contiguously (time-ordered ingest). The window is
    * per-key over |batches| digest rows, never events. Equal to
    * [[interArrival]] minus the median column (see
    * [[interArrivalPartials]] for why the median stays batch-only).
    * Output: key, n_events, min_gap_us, max_gap_us, mean_gap_us, bursts. */
  def interArrivalFromPartials(parts: DataFrame, burstUs: Long): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("first_key"))
    val stitched = parts
      .withColumn("__sg", col("first_us") - lag(col("last_us"), 1).over(w))
    val sumTotal = when(
      sum(col("gap_sum")).isNull && sum(col("__sg")).isNull, lit(null))
      .otherwise(coalesce(sum(col("gap_sum")), lit(0L)) +
        coalesce(sum(col("__sg")), lit(0L)))
    val cntTotal = coalesce(sum(col("gap_cnt")), lit(0L)) + count(col("__sg"))
    stitched.groupBy(col("key"))
      .agg(sum(col("n")).as("n_events"),
        least(min(col("gap_min")), min(col("__sg"))).as("min_gap_us"),
        greatest(max(col("gap_max")), max(col("__sg"))).as("max_gap_us"),
        when(cntTotal > 0, sumTotal.cast("double") / cntTotal.cast("double"))
          .as("mean_gap_us"),
        (coalesce(sum(col("bursts")), lit(0L)) +
          sum(when(col("__sg") <= burstUs, 1L).otherwise(0L))).as("bursts"))
  }

  def interArrival(events: DataFrame, key: Column, order: Seq[Column],
                   tsUs: Column, burstUs: Long): DataFrame = {
    require(burstUs >= 0, "burst threshold must be non-negative")
    val ordered = order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val w = Window.partitionBy(col("__u"))
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    events
      .select(key.as("__u") +: tsUs.as("__t") +: ordered: _*)
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(w))
      .groupBy(col("__u").as("key"))
      .agg(count(lit(1)).as("n_events"),
        min(col("__gap")).as("min_gap_us"),
        max(col("__gap")).as("max_gap_us"),
        (sum(col("__gap")).cast("double") /
          count(col("__gap")).cast("double")).as("mean_gap_us"),
        expr("percentile(__gap, 0.5)").as("p50_gap_us"),
        sum(when(col("__gap") <= burstUs, 1L).otherwise(0L)).as("bursts"))
  }
}
