package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity
import graft.sources.Tables

/** The on-disk names of every incremental twin: its checkpoint under
  * `_checkpoints/`, its partial and report directories. A running
  * deployment resumes from these, so each row pins them as they are and
  * the twin must land exactly them — a renamed directory would restart
  * its stream from scratch or fold a fresh partials set. */
class IncrementalLayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Tables(spark, sf(), "events")
  private lazy val docs = Tables(spark, sf(), "documents")
  private lazy val emb = Tables(spark, sf(), "embeddings")
  private lazy val pairs = Seq((2L, 3L), (5L, 6L)).toDF("a_id", "b_id")

  private def temp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** One twin: the lake it reads, its checkpoint name, the directories it
    * lands under its root, and how to run it over (lake dir, root). A
    * `split` column lands the lake as two waves (even, then odd ids), one
    * pass each, for twins whose later batches write elsewhere. */
  private case class Twin(entry: String, lake: () => DataFrame, checkpoint: String,
                          dirs: Seq[String], split: Option[String] = None)(
      val run: (String, String) => Unit)

  private val twins = Seq(
    Twin("runStreamingAnomaly", () => events, "anomaly",
        Seq("counts/batch=0", "anomalies"))(
      Incremental.runStreamingAnomaly(spark, _, _)),
    Twin("runStreamingIndexAssign", () => emb, "index", Seq("index/batch=0"))(
      (src, root) => Incremental.runStreamingIndexAssign(spark, src, root,
        Similarity.centroidsOf(emb, col("vec_id") < 8))),
    Twin("runIncrementalNovelty", () => docs, "novelty",
        Seq("novelty/batch=0", "span_index/batch=0"))(
      Incremental.runIncrementalNovelty(spark, _, _)),
    Twin("runIncrementalBoilerplate", () => docs, "boilerplate",
        Seq("clean/batch=0", "bp_index/batch=0"))(
      Incremental.runIncrementalBoilerplate(spark, _, _)),
    Twin("runIncrementalQualityModel", () => docs, "quality_model", Seq("model/batch=0"))(
      Incremental.runIncrementalQualityModel(spark, _, _)),
    Twin("runIncrementalPsi", () => docs, "psi",
        Seq("psi_baseline/batch=0", "drift/batch=1"), split = Some("doc_id"))(
      Incremental.runIncrementalPsi(spark, _, _)),
    Twin("runIncrementalKmv", () => docs, "kmv", Seq("sketches/batch=0", "estimates"))(
      Incremental.runIncrementalKmv(spark, _, _)),
    Twin("runIncrementalSourceKl", () => docs, "source_kl", Seq("counts/batch=0", "kl"))(
      Incremental.runIncrementalSourceKl(spark, _, _)),
    Twin("runIncrementalTransitions", () => events, "transitions",
        Seq("within/batch=0", "bounds/batch=0", "transitions"))(
      Incremental.runIncrementalTransitions(spark, _, _)),
    Twin("runIncrementalHeavyKeys", () => events, "heavy_keys",
        Seq("counts/batch=0", "heavy_keys"))(
      Incremental.runIncrementalHeavyKeys(spark, _, _)),
    Twin("runIncrementalProfileTwins", () => events, "profile_twins",
        Seq("counts/batch=0", "profile_twins"))(
      Incremental.runIncrementalProfileTwins(spark, _, _)),
    Twin("runIncrementalHourProfile", () => events, "hour_profile",
        Seq("counts/batch=0", "hour_profile"))(
      Incremental.runIncrementalHourProfile(spark, _, _)),
    Twin("runIncrementalHashUniformity", () => docs, "hash_uniformity",
        Seq("counts_b64/batch=0", "hash_uniformity"))(
      Incremental.runIncrementalHashUniformity(spark, _, _)),
    Twin("runIncrementalFdAudit", () => docs, "fd_audit", Seq("counts/batch=0", "fd_audit"))(
      Incremental.runIncrementalFdAudit(spark, _, _)),
    Twin("runIncrementalCentroidDrift", () => emb, "centroid_drift",
        Seq("baseline_partials", "partials/batch=0", "drift"))(
      { (src, root) =>
        val base = temp("graft_layout_cd_base")
        emb.write.mode("overwrite").parquet(base)
        Incremental.runIncrementalCentroidDrift(spark, src, root, base)
      }),
    Twin("runIncrementalSourceHealth", () => docs, "source_health",
        Seq("partials/batch=0", "source_health"))(
      Incremental.runIncrementalSourceHealth(spark, _, _)),
    Twin("runIncrementalInterArrival", () => events, "interarrival",
        Seq("partials/batch=0", "interarrival"))(
      Incremental.runIncrementalInterArrival(spark, _, _)),
    Twin("runIncrementalCdcIndex", () => docs, "cdc_index",
        Seq("chunks/batch=0", "dup_stats"))(
      Incremental.runIncrementalCdcIndex(spark, _, _)),
    Twin("runIncrementalZipf", () => docs, "zipf", Seq("counts/batch=0", "zipf"))(
      Incremental.runIncrementalZipf(spark, _, _)),
    Twin("runIncrementalUserEntropy", () => events, "user_entropy",
        Seq("counts/batch=0", "user_entropy"))(
      Incremental.runIncrementalUserEntropy(spark, _, _)),
    Twin("runIncrementalCC", () => pairs, "cc", Seq("labels/_current", "labels/A"))(
      Incremental.runIncrementalCC(spark, _, _)))

  private def children(dir: Path): Set[String] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSet
    finally listing.close()
  }

  twins.foreach { t =>
    test(s"on-disk names: ${t.entry} lands _checkpoints/${t.checkpoint} and " +
        t.dirs.mkString(", ")) {
      val src = temp("graft_layout_in")
      val root = java.nio.file.Paths.get(temp("graft_layout_out"))
      val waves = t.split.fold(Seq(t.lake())) { k =>
        Seq(t.lake().filter(col(k) % 2 === 0), t.lake().filter(col(k) % 2 === 1))
      }
      waves.foreach { w =>
        w.write.mode("append").parquet(src)
        t.run(src, root.toString)
      }
      assert(children(root.resolve("_checkpoints")) == Set(t.checkpoint))
      assert(Files.exists(root.resolve(s"_checkpoints/${t.checkpoint}/commits/0")),
        "the pass committed no batch")
      t.dirs.foreach(d => assert(Files.exists(root.resolve(d)), s"$d missing"))
      assert(children(root) == t.dirs.map(_.takeWhile(_ != '/')).toSet + "_checkpoints")
    }
  }
}
