package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

class PersistSpec extends SparkSpec {
  import spark.implicits._

  private def withMode[A](m: String)(f: => A): A = {
    spark.conf.set(Persist.modeKey, m)
    try f finally spark.conf.unset(Persist.modeKey)
  }

  test("default mode: hot caches in memory, cut truncates lineage locally") {
    val df = spark.range(100).toDF("x")
    val h = Persist.hot(df)
    assert(h.storageLevel.useMemory)
    h.unpersist()
    val c = Persist.cut(spark.range(100).toDF("x"))
    assert(c.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      "cut() did not truncate lineage")
  }

  test("disk mode: hot persists DISK_ONLY; cut is an eager DISK_ONLY lineage cut") {
    withMode("disk") {
      val h = Persist.hot(spark.range(100).toDF("x"))
      assert(h.storageLevel == StorageLevel.DISK_ONLY)
      h.unpersist()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val c = Persist.cut(spark.range(100).toDF("x"))
      // lineage severed (the overwrite-a-read-path safety Main.run needs)
      assert(c.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
        "disk cut did not sever lineage")
      // and the checkpointed blocks live at DISK_ONLY, not in memory
      val added = spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !before.contains(id) }
      assert(added.values.exists(_.getStorageLevel == StorageLevel.DISK_ONLY),
        "disk cut did not materialize at DISK_ONLY")
    }
  }

  test("disk mode: operators built on Persist give identical results") {
    val docs = (1L to 30L).map(i => (i, s"w$i x$i y$i z${i % 3} common tail words"))
      .toDF("doc_id", "text")
    def run[A](f: => Seq[A]): (Seq[A], Seq[A]) = (f, withMode("disk")(f))
    val (jl, jd) = run(Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.2)
      .orderBy("a_id", "b_id").collect().toSeq)
    assert(jl == jd && jl.nonEmpty)
    // the round-6 ops route their materialization through Persist too
    val (sl, sd) = run(Dedup.duplicatedSpans(docs, n = 3, minDf = 2)
      .orderBy("doc_id").collect().toSeq)
    assert(sl == sd && sl.nonEmpty)
    val sigs = Dedup.minhashSignatures(docs.filter(col("doc_id") <= 15), 3, 12)
    val (il, id) = run(Dedup.lshCandidatePairsAgainst(
        docs.filter(col("doc_id") > 15), sigs)
      .orderBy("new_id", "corpus_id").collect().toSeq)
    assert(il == id)
  }

  test("reliable mode: cut() checkpoints to the reliable checkpoint dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    withMode("reliable") {
      val c = Persist.cut(spark.range(50).toDF("x"))
      assert(c.agg(sum("x")).collect().head.getLong(0) == 1225L)
      assert(!java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray.isEmpty,
        "no checkpoint data written")
    }
  }

  test("reliable mode: cutLazy is the eager cut, checkpoint files exist on return") {
    // a lazy reliable checkpoint would be written by a separate job AFTER
    // the caller's action, recomputing the lineage; the eager cut writes
    // it here, once
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_lazy")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val c = withMode("reliable") { Persist.cutLazy(spark.range(50).toDF("x")) }
    import scala.jdk.CollectionConverters._
    val parts = java.nio.file.Files.walk(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).size
    assert(parts > 0, "no checkpoint files written by cutLazy")
    assert(c.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      "cutLazy did not truncate lineage")
    assert(c.agg(sum("x")).collect().head.getLong(0) == 1225L)
  }

  test("reliable mode: a cut frame survives loss of its source (resume-after-failure)") {
    // The production property the knob exists for: once cut() returns, the
    // stage is materialized to reliable storage, so a failure that costs
    // the upstream (executor loss, a source overwritten mid-pipeline)
    // cannot force a recompute. Simulated by DELETING the source files
    // after the cut — any lineage re-read would now throw; only the
    // checkpoint can serve the rows.
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_resume").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_resume_src")
    spark.range(100).toDF("x").write.mode("overwrite").parquet(srcDir.toString)
    val cut = withMode("reliable") { Persist.cut(spark.read.parquet(srcDir.toString)) }
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(srcDir).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    assert(cut.agg(sum("x")).collect().head.getLong(0) == 4950L,
      "checkpointed stage recomputed or lost after source deletion")
    assert(cut.count() == 100L)
  }
}
