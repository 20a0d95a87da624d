package graft

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the plan evidence for optimization rounds (plans/r<N>/<query>_<tag>.txt).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <query1,query2,...>
  *   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS   (default 4)
  *
  * Plans are captured with the SAME session config as Bench (AQE trio,
  * shuffle partitions = thread count), so the Exchange/join-strategy shape
  * matches what the bench actually executes (modulo AQE's runtime
  * re-planning, which explain-before-execution cannot show).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag, qcsv) = Sessions.mainArgs(args, 3, 3,
      "usage: graft.PlanDump <outDir> <tag> <q1,q2,...|all>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
      .config(graft.sources.Tables.nanosAsLongKey, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.wireCheckpointDir(spark)
    val names =
      if (qcsv == "all") SparkEntry.queries.keys.toSeq.sorted
      else qcsv.split(",").toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), plan)
        println(s"[plandump] wrote $name ($tag)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
