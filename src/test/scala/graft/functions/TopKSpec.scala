package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** graft_top_k — Spark's bounded CollectTopK under a SQL name, behind
  * every per-key ranking cut: pinned value-identical to the unbounded
  * slice(array_sort(collect_list(x)), 1, k) formulation over generated
  * frames with ties, NULLs, k beyond the group and k = 1, on 1–7 input
  * partitions. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def cases[A](g: Gen[A], n: Int = 12): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default.withSize(30), Seed(i.toLong)))

  /** The reference: the unbounded collect_list, sorted, cut to k. */
  private def reference(df: DataFrame, key: String, x: Column, k: Int): DataFrame =
    df.groupBy(col(key)).agg(slice(array_sort(collect_list(x)), 1, k).as("top"))

  private def topK(df: DataFrame, key: String, x: Column, k: Int): DataFrame =
    df.groupBy(col(key)).agg(graft.GraftFunctions.topK(df, x, k).as("top"))

  private def byKey(df: DataFrame): Map[Any, Seq[Any]] =
    df.collect().map(r => r.get(0) -> r.getSeq[Any](1)).toMap

  private val ks = Gen.oneOf(1, 2, 3, 5, 50)
  private val parts = Gen.choose(1, 7)

  test("scalar values: equals slice(array_sort(collect_list)) with NULLs, ties, any k") {
    // an all-NULL group yields an empty array on both sides
    val rows = Gen.listOf(Gen.zip(Gen.choose(0, 3), Gen.option(Gen.choose(-5, 5))))
    cases(Gen.zip(rows, ks, parts)).foreach { case (rs, k, p) =>
      val df = ((0, Some(1)) :: (0, None) :: (8, None) :: rs).toDF("g", "v").repartition(p)
      assert(byKey(topK(df, "g", col("v"), k)) ==
        byKey(reference(df, "g", col("v"), k)), s"k = $k, partitions = $p")
    }
  }

  test("struct values: field-lexicographic order, NULL fields, tie-broken on id") {
    // sims on a 2-decimal grid collide constantly; n_id breaks ties
    val sim = Gen.option(Gen.choose(0, 20).map(i => BigDecimal(i).doubleValue / 20))
    val rows = Gen.listOf(Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 12L), sim))
    cases(Gen.zip(rows, ks, parts)).foreach { case (rs, k, p) =>
      val df = ((9, 0L, None) :: (9, 1L, None) :: rs).toDF("q_id", "n_id", "sim")
        .repartition(p)
      val cand = struct((-col("sim")).as("negsim"), col("n_id"), col("sim"))
      val got = byKey(topK(df, "q_id", cand, k))
      assert(got == byKey(reference(df, "q_id", cand, k)), s"k = $k, partitions = $p")
      assert(got.values.forall(_.size <= k))
    }
  }

  test("topKPerQuery equals the reference row for row") {
    val sim = Gen.option(Gen.choose(0, 10).map(i => BigDecimal(i).doubleValue / 10))
    val rows = Gen.listOf(Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 15L), sim))
    cases(Gen.zip(rows, ks, parts)).foreach { case (rs, k, p) =>
      val scored = ((7L, 0L, Option.empty[Double]) :: rs).toDF("q_id", "n_id", "sim")
        .repartition(p)
      val got = graft.operators.Similarity.topKPerQuery(scored, k).collect().toSeq
      val cand = struct((-col("sim")).as("negsim"), col("n_id"), col("sim"))
      val want = reference(scored, "q_id", cand, k)
        .select(col("q_id"), explode(col("top")).as("t"))
        .select(col("q_id"), col("t.n_id").as("n_id"), col("t.sim").as("sim"))
        .collect().toSeq
      def norm(s: Seq[Row]) = s.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs }
      assert(norm(got) == norm(want), s"k = $k, partitions = $p")
    }
  }

  test("k must be a constant INT/BIGINT in [1, maxTopK]: SQL and Column API fail analysis") {
    graft.GraftFunctions.register(spark)
    val df = Seq(("a", 5L), ("a", 1L), ("a", 3L), ("b", 2L)).toDF("g", "v")
    df.createOrReplaceTempView("top_k_args")
    val max = graft.GraftFunctions.maxTopK
    assert(spark.sql(s"SELECT g, graft_top_k(v, 2L) AS t FROM top_k_args GROUP BY g ORDER BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toSeq ==
      Seq("a" -> Seq(1L, 3L), "b" -> Seq(2L)))
    val bad = Seq(
      ("v", col("v"), "k must be a constant"),
      ("0", lit(0), "k must be in [1, "),
      (s"${max + 1}", lit(max + 1), "k must be in [1, "),
      ("'2'", lit("2"), "k must be INT or BIGINT"))
    for ((sqlK, colK, msg) <- bad) {
      val viaSql = intercept[AnalysisException](spark.sql(
        s"SELECT g, graft_top_k(v, $sqlK) FROM top_k_args GROUP BY g").collect())
      val viaCol = intercept[AnalysisException](
        df.groupBy("g").agg(call_function("graft_top_k", col("v"), colK)).collect())
      for (e <- Seq(viaSql, viaCol))
        assert(e.getMessage.contains(s"graft_top_k: $msg"), s"k = $sqlK: ${e.getMessage}")
    }
    val typed = intercept[AnalysisException](
      df.groupBy("g").agg(graft.GraftFunctions.topK(df, col("v"), 0)).collect())
    assert(typed.getMessage.contains("graft_top_k: k must be in [1, "), typed.getMessage)
    val unordered = intercept[AnalysisException](spark.sql(
      "SELECT g, graft_top_k(map(g, v), 2) FROM top_k_args GROUP BY g").collect())
    assert(unordered.getMessage.contains("graft_top_k: x must be orderable"),
      unordered.getMessage)
  }

  test("register is idempotent: a second call keeps graft_top_k's registry entry") {
    val registry = spark.sessionState.functionRegistry
    val id = graft.GraftFunctions.topKDescriptor._1
    graft.GraftFunctions.register(spark)
    val info = registry.lookupFunction(id).get
    val builder = registry.lookupFunctionBuilder(id).get
    graft.GraftFunctions.register(spark)
    // a re-registration would store a fresh ExpressionInfo
    assert(registry.lookupFunction(id).get eq info)
    assert(registry.lookupFunctionBuilder(id).get eq builder)
  }
}
