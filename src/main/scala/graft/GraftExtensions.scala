package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, RowOrdering}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.functions.call_function

import graft.functions.expr.{CdcCuts, CosineSimilarity, DotProduct, HexParityMask, MinKDistinct, RewriteDotProduct}

/** Registration surface for the engine's custom Catalyst expressions.
  *
  * Two entry points:
  *  - [[GraftExtensions]]: `SparkSessionExtensions` injector — enable with
  *    `spark.sql.extensions=graft.GraftExtensions` so SQL users get
  *    `graft_cosine(a, b)` in every session (the idiomatic deploy path);
  *  - [[GraftFunctions.register]]: imperative, idempotent registration for
  *    sessions built without the extension (tests, Verify/Bench mains).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    // evaluation-mode upgrade for the idiomatic HOF dot-product pattern
    // (zip_with+aggregate cannot codegen) — see RewriteDotProduct
    ext.injectOptimizerRule(_ => RewriteDotProduct)
  }
}

object GraftFunctions {

  val cosineDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_cosine(a, b) takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })

  /** Spark's native (codegen'd) bloom-membership predicate, surfaced as a
    * callable function: `graft_bloom_contains(bloom_bytes, xxhash64_value)`.
    * The expression is internal-only in stock Spark (reserved for the
    * optimizer's runtime join filters); the engine exposes it because a
    * driver-built `DataFrameStatFunctions.bloomFilter` sketch is the
    * documented pre-filter shape for semi-join reduction when the build
    * side is too large to broadcast (see Dedup.contaminationPairsBloom).
    * The bloom argument must be a FOLDABLE binary (a literal sketch) —
    * enforced by the expression's own type check. */
  val bloomContainsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bloom_contains"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      "graft_bloom_contains"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        "graft_bloom_contains(bloom, value) takes exactly 2 arguments")
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        children.head, children(1))
    })

  /** SimHash's per-token vote vector in one codegen'd pass (see
    * [[graft.functions.expr.HexParityMask]] for why this beats `conv`). */
  val hexParityMaskDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hex_parity_mask"),
    new ExpressionInfo(classOf[HexParityMask].getName, "graft_hex_parity_mask"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "graft_hex_parity_mask(hex) takes exactly 1 argument")
      HexParityMask(children.head)
    })

  /** Raw codegen'd dot product (see [[graft.functions.expr.DotProduct]]):
    * the fold the SRP/JL plane projections and the squared-norm stages
    * run per row, freed from the interpreted-HOF fallback. */
  val dotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_dot(a, b) takes exactly 2 arguments")
      DotProduct(children.head, children(1))
    })

  /** One-pass CDC cut finder (see [[graft.functions.expr.CdcCuts]]):
    * replaces the per-byte explode + LEAD-window segment assembly with an
    * output-sized cut array, cut-for-cut identical to the SQL fingerprint. */
  val cdcCutsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cdc_cuts"),
    new ExpressionInfo(classOf[CdcCuts].getName, "graft_cdc_cuts"),
    (children: Seq[Expression]) => {
      require(children.size == 3 || children.size == 4,
        "graft_cdc_cuts(content, window, mask[, gear]) takes 3 or 4 arguments")
      def intArg(e: Expression, name: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          s"graft_cdc_cuts: $name must be an INT literal")
      }
      val gear = if (children.size < 4) false else children(3) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
        case _ => throw new IllegalArgumentException(
          "graft_cdc_cuts: gear must be a BOOLEAN literal")
      }
      CdcCuts(children.head, intArg(children(1), "window"),
        intArg(children(2), "mask"), gear)
    })

  /** Bounded distinct min-k aggregate (see
    * [[graft.functions.expr.MinKDistinct]]): `graft_min_k(x, k)` — the k
    * smallest distinct BIGINTs of the group as an ascending array, O(k)
    * buffer state. The analyzer wraps the returned AggregateFunction and
    * type-checks `k` (a constant INT or BIGINT, range-checked). */
  val minKDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_min_k"),
    new ExpressionInfo(classOf[MinKDistinct].getName, "graft_min_k"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_min_k(x, k) takes exactly 2 arguments")
      MinKDistinct(children.head, children(1))
    })

  /** Largest k `graft_top_k` accepts. Spark's `CollectTopK` buffer is a
    * `BoundedPriorityQueue` whose `java.util.PriorityQueue` is pre-sized
    * to k for EVERY group buffer, before a single row arrives — so k is
    * capped well above any ranking cut (the largest in use is 100) and
    * far below a size that would allocate per-group arrays for nothing. */
  val maxTopK: Int = 65536

  /** Bounded per-key top-k — Spark's own `CollectTopK` under a SQL name:
    * `graft_top_k(x, k)` is the k smallest values of `x` in its natural
    * ordering (structs field by field), as an ascending array; duplicates
    * are kept and NULL values skipped, so it is value-identical to
    * `slice(array_sort(collect_list(x)), 1, k)`. The bound holds while
    * rows arrive: a value worse than the current k-th best is dropped on
    * arrival, and each task's partial aggregate ships ≤ k values per
    * group. `k` must be a constant INT or BIGINT in [1, [[maxTopK]]];
    * anything else fails analysis with a `graft_top_k` message. */
  val topKDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_top_k"),
    new ExpressionInfo(classOf[CollectTopK].getName, "graft_top_k"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_top_k(x, k) takes exactly 2 arguments")
      val Seq(x, kExpr) = children
      def fail(msg: String): Nothing = throw new AnalysisException(
        "DATATYPE_MISMATCH.TYPE_CHECK_FAILURE_WITH_HINT",
        Map("sqlExpr" -> s"\"graft_top_k(${x.sql}, ${kExpr.sql})\"", "msg" -> msg, "hint" -> ""))
      MinKDistinct.kError("graft_top_k", kExpr, maxTopK).foreach(fail)
      if (!RowOrdering.isOrderable(x.dataType))
        fail(s"graft_top_k: x must be orderable, got ${x.dataType.sql}")
      new CollectTopK(x, kExpr.eval().asInstanceOf[Number].intValue, true, 0, 0)
    })

  /** Every SQL function the engine registers, in one list for both entry
    * points. */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(cosineDescriptor, bloomContainsDescriptor, hexParityMaskDescriptor,
      dotDescriptor, cdcCutsDescriptor, minKDescriptor, topKDescriptor)

  /** Idempotent imperative registration into `spark`'s function registry:
    * a function the registry already holds is left in place, so the
    * per-Column accessors below can call this on every use. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, _, build) =>
      if (!registry.functionExists(id))
        registry.createOrReplaceTempFunction(id.funcName, build, "internal")
    }
    // the imperative twin of injectOptimizerRule for sessions built
    // without the extension (idempotent like the registrations above)
    if (!spark.experimental.extraOptimizations.contains(RewriteDotProduct))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteDotProduct
  }

  /** Column-level accessor; caller must have registered on the session
    * owning the plan (operators pass a frame so this is automatic). */
  def cosine(df: DataFrame, a: Column, b: Column): Column = {
    register(df.sparkSession)
    call_function("graft_cosine", a, b)
  }

  /** Column-level dot-product accessor (cf. [[cosine]]). */
  def dot(df: DataFrame, a: Column, b: Column): Column = {
    register(df.sparkSession)
    call_function("graft_dot", a, b)
  }

  /** Column-level parity-mask accessor (cf. [[cosine]]). */
  def hexParityMask(df: DataFrame, hex: Column): Column = {
    register(df.sparkSession)
    call_function("graft_hex_parity_mask", hex)
  }

  /** Column-level bloom membership: true iff `value` (a long, typically
    * xxhash64 of the probe key) may be in the serialized sketch. False
    * positives at the sketch's fpp; never false negatives. */
  def bloomContains(df: DataFrame, bloom: Column, value: Column): Column = {
    register(df.sparkSession)
    call_function("graft_bloom_contains", bloom, value)
  }

  /** Column-level CDC cut array: ascending `[0, c1, c2, …]` offsets for
    * the (window, mask) fingerprint over a binary payload. `gear = true`
    * selects the production Gear rolling hash (see
    * [[graft.functions.expr.CdcCuts]]); default is the oracle-parity md5
    * window. */
  def cdcCuts(df: DataFrame, content: Column, window: Int, mask: Int,
              gear: Boolean = false): Column = {
    register(df.sparkSession)
    call_function("graft_cdc_cuts", content,
      org.apache.spark.sql.functions.lit(window),
      org.apache.spark.sql.functions.lit(mask),
      org.apache.spark.sql.functions.lit(gear))
  }

  /** Column-level bounded distinct min-k (aggregate; use inside .agg):
    * ascending array of the group's k smallest distinct BIGINTs —
    * value-identical to `slice(array_sort(collect_set(x)), 1, k)` with
    * O(k) buffer state and ≤ k longs per group on the exchange. */
  def minK(df: DataFrame, x: Column, k: Int): Column = {
    register(df.sparkSession)
    call_function("graft_min_k", x, org.apache.spark.sql.functions.lit(k))
  }

  /** Column-level bounded top-k (aggregate; use inside .agg): ascending
    * array of the group's k smallest `x` — see [[topKDescriptor]]. Rank
    * "best k by score DESC, id ASC" as `topK(df, struct(-score, id, …), k)`. */
  def topK(df: DataFrame, x: Column, k: Int): Column = {
    register(df.sparkSession)
    call_function("graft_top_k", x, org.apache.spark.sql.functions.lit(k))
  }
}
