package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_min_k — the bounded distinct min-k aggregate behind the KMV
  * sketch: pinned value-identical to the unbounded
  * slice(array_sort(collect_set(x)), 1, k) formulation it replaces. */
class MinKDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def minK(df: org.apache.spark.sql.DataFrame, k: Int) =
    graft.GraftFunctions.minK(df, col("v"), k)

  test("equals slice(array_sort(collect_set)) on skewed multi-partition data") {
    // deterministic pseudo-random longs with heavy duplication, spread
    // over 8 partitions so partial buffers and merges are exercised
    val df = spark.range(0, 5000, 1, 8)
      .select((col("id") % 13).as("g"),
        ((col("id") * 2654435761L) % 997L).as("v"))
    val k = 16
    val got = df.groupBy("g").agg(minK(df, k).as("mins"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val ref = df.groupBy("g")
      .agg(slice(array_sort(collect_set(col("v"))), 1, k).as("mins"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got === ref)
    assert(got.values.forall(_.size == k), "every group has >= k distinct values")
  }

  test("fewer than k distinct values: returns the whole set, ascending, deduped") {
    val df = Seq(("a", 5L), ("a", 1L), ("a", 5L), ("a", 3L), ("b", 2L))
      .toDF("g", "v")
    val got = df.groupBy("g").agg(minK(df, 64).as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got === Map("a" -> Seq(1L, 3L, 5L), "b" -> Seq(2L)))
  }

  test("nulls are ignored; duplicates at the k-boundary do not evict") {
    val df = Seq(
      ("a", Some(3L)), ("a", None), ("a", Some(1L)), ("a", Some(2L)),
      ("a", Some(1L)), ("a", Some(4L))
    ).toDF("g", "v")
    val got = df.groupBy("g").agg(minK(df, 3).as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // duplicate 1 must not push 3 out of the top-3 minima
    assert(got === Map("a" -> Seq(1L, 2L, 3L)))
  }

  test("SQL k: INT, BIGINT and constant expressions accepted; anything else fails analysis") {
    graft.GraftFunctions.register(spark)
    Seq(("a", 5L), ("a", 1L), ("a", 3L), ("b", 2L)).toDF("g", "v")
      .createOrReplaceTempView("min_k_args")
    def mins(k: String) = spark.sql(
      s"SELECT g, graft_min_k(v, $k) AS m FROM min_k_args GROUP BY g ORDER BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toSeq
    val want = Seq("a" -> Seq(1L, 3L), "b" -> Seq(2L))
    for (k <- Seq("2", "2L", "CAST(2 AS BIGINT)", "1 + 1", "CAST(2 AS TINYINT)"))
      assert(mins(k) == want, s"k = $k")
    for ((k, msg) <- Seq(
        "0" -> "k must be in [1, ",
        "-3L" -> "k must be in [1, ",
        "4294967296L" -> "k must be in [1, ",
        "CAST(NULL AS INT)" -> "k must be in [1, ",
        "2.0D" -> "k must be INT or BIGINT",
        "'2'" -> "k must be INT or BIGINT",
        "v" -> "k must be a constant")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](mins(k))
      assert(e.getMessage.contains(msg), s"k = $k: ${e.getMessage}")
    }
  }

  test("kmvSketch via graft_min_k equals the collect_set reference at small k") {
    val docs = graft.sources.Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val sk = graft.operators.Dedup.kmvSketch(docs, col("lang"), n = 3, k = 8)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    import graft.functions.TextFunctions._
    val u = docs
      .select(col("lang").as("stratum"), rawTokens(col("text")).as("ts"))
      .select(col("stratum"), explode(shinglesOrEmpty(col("ts"), 3)).as("s"))
      .select(col("stratum"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("u"))
    val ref = u.groupBy("stratum")
      .agg(slice(array_sort(collect_set(col("u"))), 1, 8).as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sk === ref)
  }
}
