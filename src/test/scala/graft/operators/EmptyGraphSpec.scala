package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The edgeless-graph contract of the CC label loop's consumers (and of
  * [[Dedup.pageRank]], which shares its undirected edge frame): a
  * non-empty node frame with ZERO candidate pairs must give the same
  * rows, column names and types as the operators always have — every
  * doc kept, every doc its own cluster, zero counts, empty reports.
  *
  * Nullability: a column may be nullable on the edgeless graph only
  * where the same operator's output over a one-edge graph is nullable
  * too (the empty case then reads through the same plan as the
  * non-empty one). Each expected field is `name:type:nullable` as the
  * edgeless graph has always produced it. */
class EmptyGraphSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq((1L, "a b c"), (2L, "a b c d"), (3L, "x y z"))
    .toDF("doc_id", "text")
  private def noPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
  private def onePair = Seq((1L, 2L)).toDF("a_id", "b_id")
  private def selfLabels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "lbl")
  // maxDist = 1 links no two of these names; "acme corp"/"acme corq" link
  private def farNames = Seq((1L, "acme corp"), (2L, "acme corp"), (3L, "zeta corp"))
    .toDF("id", "name")
  private def nearNames = Seq((1L, "acme corp"), (2L, "acme corq"), (3L, "zeta corp"))
    .toDF("id", "name")
  private def er(df: DataFrame) =
    Linkage.erClusters(df, col("name"), col("id"), maxDist = 1)

  private val docFields = Seq("doc_id:bigint:false", "text:string:true")

  /** (operator, output over the edgeless graph, output over a one-edge
    * graph, expected fields, expected rows as sorted `Row.toString`). */
  private def cases
      : Seq[(String, () => DataFrame, () => DataFrame, Seq[String], Seq[String])] = Seq(
    ("dropNearDuplicatesCC",
      () => Dedup.dropNearDuplicatesCC(docs, noPairs),
      () => Dedup.dropNearDuplicatesCC(docs, onePair),
      docFields, Seq("[1,a b c]", "[2,a b c d]", "[3,x y z]")),
    ("componentSizeHistogram",
      () => Dedup.componentSizeHistogram(noPairs),
      () => Dedup.componentSizeHistogram(onePair),
      Seq("component_size:bigint:false", "n_components:bigint:false"), Seq()),
    ("mergeComponentLabels",
      () => Dedup.mergeComponentLabels(selfLabels, noPairs),
      () => Dedup.mergeComponentLabels(selfLabels, onePair),
      Seq("id:bigint:false", "lbl:bigint:false"), Seq("[1,1]", "[2,2]", "[3,3]")),
    ("splitByComponent",
      () => Dedup.splitByComponent(docs, noPairs),
      () => Dedup.splitByComponent(docs, onePair),
      Seq("doc_id:bigint:false", "split:string:false"),
      Seq("[1,train]", "[2,train]", "[3,train]")),
    ("keepBestPerCluster",
      () => Dedup.keepBestPerCluster(docs, noPairs, Seq(length(col("text")).desc, col("doc_id"))),
      () => Dedup.keepBestPerCluster(docs, onePair, Seq(length(col("text")).desc, col("doc_id"))),
      docFields, Seq("[1,a b c]", "[2,a b c d]", "[3,x y z]")),
    ("packedDupColocation",
      () => Dedup.packedDupColocation(docs, noPairs, budgetTokens = 4, shards = 2),
      () => Dedup.packedDupColocation(docs, onePair, budgetTokens = 4, shards = 2),
      Seq("n_bins:bigint:false", "dirty_bins:bigint:false", "colocated_pairs:bigint:false"),
      Seq("[2,0,0]")),
    ("dedupStrategyAudit",
      () => Dedup.dedupStrategyAudit(docs, noPairs),
      () => Dedup.dedupStrategyAudit(docs, onePair),
      Seq("n_docs:bigint:false", "n_pairs:bigint:false", "kept_greedy:bigint:false",
        "kept_cc:bigint:false", "extra_greedy:bigint:false", "cc_converged:boolean:false"),
      Seq("[3,0,3,3,0,true]")),
    ("clusterTokenSavings",
      () => Dedup.clusterTokenSavings(docs, noPairs),
      () => Dedup.clusterTokenSavings(docs, onePair),
      Seq("cluster:bigint:false", "n_docs:bigint:false", "total_tokens:bigint:false",
        "kept_tokens:bigint:false", "saved_tokens:bigint:false"), Seq()),
    ("erClusters",
      () => er(farNames),
      () => er(nearNames),
      Seq("name:string:true", "canonical:string:true", "cluster_names:bigint:false",
        "cluster_rows:bigint:true", "n_rows:bigint:false"),
      Seq("[acme corp,acme corp,1,2,2]", "[zeta corp,zeta corp,1,1,1]")),
    ("pageRank",
      () => Dedup.pageRank(noPairs),
      () => Dedup.pageRank(onePair),
      Seq("id:bigint:false", "pr:double:true"), Seq()))

  private def fields(df: DataFrame): Seq[(String, String, Boolean)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString, f.nullable))

  cases.foreach { case (op, empty, oneEdge, expFields, expRows) =>
    test(s"edgeless graph: $op keeps its rows, column names and types") {
      val out = empty()
      val got = fields(out)
      val exp = expFields.map { s =>
        val Array(n, t, nl) = s.split(":")
        (n, t, nl.toBoolean)
      }
      assert(got.map(f => (f._1, f._2)) == exp.map(f => (f._1, f._2)))
      val ref = fields(oneEdge()).map(f => f._1 -> f._3).toMap
      got.zip(exp).foreach { case ((n, _, nl), (_, _, expNl)) =>
        assert(nl == expNl || nl == ref(n),
          s"$op.$n nullable=$nl: neither the edgeless ($expNl) nor the one-edge (${ref(n)}) schema")
      }
      assert(out.collect().map(_.toString).sorted.toSeq == expRows)
    }
  }

  test("erClusters surfaces a non-converged labeling under spark.graft.cc.onNonConverged=error") {
    // "a x", "aa x", …: each name is one insertion from the next and two
    // or more from every other, so the name graph is a 12-node chain that
    // one round of min-label propagation cannot settle
    val chain = (1 to 12).map(i => (i.toLong, "a" * i + " x")).toDF("id", "name")
    spark.conf.set("spark.graft.cc.onNonConverged", "error")
    try {
      val ex = intercept[IllegalStateException] {
        Linkage.erClusters(chain, col("name"), col("id"), maxDist = 1, maxIters = 1)
          .collect()
      }
      assert(ex.getMessage.contains("erClusters"))
      assert(ex.getMessage.contains("did NOT converge"))
      // the same graph with rounds enough converges under the same setting
      assert(Linkage.erClusters(chain, col("name"), col("id"), maxDist = 1)
        .select("canonical").distinct().collect().map(_.getString(0)).toSeq == Seq("a x"))
    } finally spark.conf.unset("spark.graft.cc.onNonConverged")
  }
}
