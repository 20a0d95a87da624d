package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LinkageSpec extends SparkSpec {
  import spark.implicits._

  // an entity table with a typo cluster ("acme corp"/"acme cord" dist 1,
  // "acme cord"/"acmo cord" dist 1 → one 3-name component via chaining),
  // a same-block-but-far name, a different-block homonym-free singleton,
  // and a spaceless name (block = whole name)
  private def fixture = Seq(
    (10L, "acme corp", "b1"),
    (11L, "acme corp", "b1"),
    (12L, "acme cord", "b1"),
    (13L, "acme cord", "b2"),
    (14L, "acmo cord", "b2"),
    (15L, "zenith corp", "b3"),
    (16L, "globex", "b1")
  ).toDF("id", "name", "brand")

  test("fuzzyNamePairs: same-block candidates only, dist in [1,maxDist], multiplicity products") {
    val out = Linkage.fuzzyNamePairs(fixture, col("name"), col("id"), maxDist = 2)
      .orderBy("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(5))).toSeq
    // blocks: corp={acme corp, zenith corp}, cord={acme cord, acmo cord},
    // globex={globex}. zenith-acme dist 4 > cap; identical names never pair.
    assert(out == Seq(("acme cord", "acmo cord", 1L, 2L)))
  }

  test("fuzzyNamePairs: cross-block typos do NOT pair (blocking is a recall tradeoff, asserted)") {
    // "acme corp" vs "acme cord" is dist 1 but lands in different blocks
    val out = Linkage.fuzzyNamePairs(fixture, col("name"), col("id"), maxDist = 2)
      .filter(col("name_a") === "acme cord" && col("name_b") === "acme corp")
    assert(out.count() == 0L)
  }

  test("fuzzyNamePairs: maxBlock drops hot blocks entirely, keeps the rest") {
    val hot = (0 until 12).map(i => (100L + i, s"alpha$i widget", "b")).toDF("id", "name", "brand")
    val df = fixture.unionByName(hot)
    val capped = Linkage.fuzzyNamePairs(df, col("name"), col("id"),
      maxDist = 2, maxBlock = 5)
    // the 12-name "widget" block exceeds the cap → refused; cord block survives
    val names = capped.select("name_a").distinct().as[String].collect().toSet
    assert(names == Set("acme cord"))
    // the cap boundary: a block of exactly maxBlock names keeps all its
    // pairs, a block of maxBlock + 1 is dropped
    val atCap = (0 until 5).map(i => (200L + i, s"beta$i gadget", "b"))
    val overCap = (0 until 6).map(i => (300L + i, s"gamma$i gizmo", "b"))
    val edge = Linkage.fuzzyNamePairs((atCap ++ overCap).toDF("id", "name", "brand"),
        col("name"), col("id"), maxDist = 2, maxBlock = 5)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    assert(edge == (for (i <- 0 until 5; j <- i + 1 until 5)
      yield (s"beta$i gadget", s"beta$j gadget")).toSet)
  }

  test("erClusters: CC over the name graph, canonical = min-name-id member, singletons kept") {
    val out = Linkage.erClusters(fixture, col("name"), col("id"), maxDist = 2)
      .orderBy("name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out == Seq(
      // cord cluster: {acme cord(id 12, 2 rows), acmo cord(id 14, 1 row)}
      ("acme cord", "acme cord", 2L, 3L, 2L),
      ("acme corp", "acme corp", 1L, 2L, 2L),
      ("acmo cord", "acme cord", 2L, 3L, 1L),
      ("globex", "globex", 1L, 1L, 1L),
      ("zenith corp", "zenith corp", 1L, 1L, 1L)))
  }

  test("erClusters: the name domain is aggregated and cut once (job count)") {
    // 22 jobs on this fixture; a second domain aggregate + cut and the
    // name_id re-joins onto the pairs cost 28
    val jobs = countJobs(
      Linkage.erClusters(fixture, col("name"), col("id"), maxDist = 2).collect())
    assert(jobs <= 24, s"erClusters ran $jobs jobs")
  }

  test("linkageAgreement: agreement mass is the exact contingency product, by distance") {
    val out = Linkage.linkageAgreement(fixture, col("name"), col("id"),
      col("brand"), maxDist = 2)
      .orderBy("dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // one pair (acme cord × acmo cord): entity pairs 2×1 = 2; agreement:
    // acme cord rows carry b1,b2; acmo cord carries b2 → 1·1 = 1 agree
    assert(out == Seq((1L, 1L, 2L, 1L, 0.5)))
  }

  test("blockProfile: candidate counts are c·(c-1)/2 per block") {
    val out = Linkage.blockProfile(fixture, col("name"), col("id"))
      .orderBy("block").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      ("cord", 2L, 3L, 1L),
      ("corp", 2L, 3L, 1L),
      ("globex", 1L, 1L, 0L)))
  }

  test("erClusters: edgeless graph (maxDist too tight for any pair) is all singletons") {
    val far = Seq((1L, "aaaa", "b"), (2L, "zzzz", "b")).toDF("id", "name", "brand")
    val out = Linkage.erClusters(far, col("name"), col("id"), maxDist = 1)
      .orderBy("name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(("aaaa", "aaaa", 1L), ("zzzz", "zzzz", 1L)))
  }
}
