package graft

import org.apache.spark.sql.SparkSession

/** ONE definition of the local session config shared by the three
  * driver-contract mains (Main / Verify / Bench) and the test session —
  * so the runtime knobs the 100 TB design leans on are pinned in code,
  * not inherited from Spark defaults that a version bump could move.
  *
  * The AQE trio is the load-bearing part: the SkewBench story ("a
  * hot-key shuffle re-plans at runtime") assumes
  * `spark.sql.adaptive.{enabled,coalescePartitions.enabled,
  * skewJoin.enabled}`; pinning them here makes the claim a property of
  * the session builder, asserted by SessionConfigSpec, instead of a
  * default three `spark-defaults.conf` lines away from silently off.
  * `conf/cluster-smoke.conf` pins the same three for cluster submits.
  *
  * It also holds the measurement mains' shared plumbing (Bench,
  * BlockingAudit, BackfillBench, StreamStateBench): the `env` header
  * line, the between-windows [[release]] and the [[median]] estimator;
  * [[mainArgs]], the argument-count check of the contract mains; and
  * [[policy]], the one validated read of an enumerated `spark.graft.*`
  * policy key.
  */
object Sessions {

  /** The knobs every graft session pins explicitly (runtime re-plan:
    * partition coalescing + skew-join splitting on live shuffle
    * statistics). */
  val adaptiveKnobs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // `parallelismFirst` is PARAMETERIZED (env SPARK_GRAFT_AQE_PARALLELISM
    // _FIRST, default = Spark's own default `true`): `false` coalesces
    // every post-shuffle stage to the 64 MB advisory size, which reads
    // well in §2.2 byte terms but uses BYTES as a proxy for COMPUTE — in
    // this engine's hot stages (shingle explode → md5 → aggregate) a few
    // MB of post-shuffle rows carry seconds of per-row work, and
    // coalescing them to 1-2 partitions serializes it. Measured on the
    // full 207-query contract at sf0.1/local[32]: `false` cost +13%
    // total (the worst hit, compute-dense queries like x128/x10/x98,
    // +40-65% each; pipeline_total +96%) and bought nothing — the byte-
    // heavy stages it exists for are already sized by
    // `spark.sql.shuffle.partitions` at cluster scale, where partition
    // counts exceed parallelism and the flag never binds. Keep `true`
    // here; a payload-byte-dominated cluster deployment can flip it via
    // the env knob or conf/cluster-smoke.conf.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> {
      val v = sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true")
      require(v == "true" || v == "false",
        s"SPARK_GRAFT_AQE_PARALLELISM_FIRST must be true|false, got '$v'")
      v
    },
    "spark.sql.adaptive.skewJoin.enabled" -> "true")

  /** Wire the reliable-persist checkpoint root into the session.
    * Cluster submits set `spark.graft.checkpoint.dir` alongside
    * `spark.graft.persist.mode=reliable` (conf/cluster-smoke.conf);
    * under that mode Persist.cut calls `df.checkpoint()`, which crashes
    * without a checkpoint directory. ALL THREE contract mains call this
    * (Verify and Bench run the same Persist-using operators Main does),
    * so one `--properties-file` configures the whole persistence story
    * regardless of which main is submitted. No-op when the key is
    * absent (the local[n] default). */
  def wireCheckpointDir(spark: SparkSession): Unit =
    spark.sparkContext.getConf.getOption("spark.graft.checkpoint.dir")
      .foreach(spark.sparkContext.setCheckpointDir)

  /** A main's positional arguments when there are `min` to `max` of
    * them; any other count prints `usage` to stderr and exits 2, as
    * `tools/check_oracle.py` does, instead of failing on a pattern match. */
  def mainArgs(args: Array[String], min: Int, max: Int,
               usage: String): Array[String] = {
    if (args.length < min || args.length > max) {
      System.err.println(usage)
      sys.exit(2)
    }
    args
  }

  /** The session's value of the enumerated policy `key` (`default` when
    * unset). A value outside `allowed` throws IllegalArgumentException
    * naming the key and the allowed values, so a misspelled policy fails
    * instead of silently meaning some other one. */
  private[graft] def policy(spark: SparkSession, key: String, default: String,
                            allowed: Seq[String]): String = {
    val v = spark.conf.get(key, default)
    require(allowed.contains(v),
      s"$key must be one of ${allowed.mkString(", ")}; got '$v'")
    v
  }

  /** The `{"metric":"env",…}` header a measurement main prints first:
    * jvm, max heap, cpus, load average and Spark threads, then `fields`
    * — the main's own comma-separated JSON members — so a contended or
    * misconfigured box is visible in the artifact itself. */
  def envLine(cpus: String, fields: String): String = {
    val rt = Runtime.getRuntime
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    s"""{"metric":"env","jvm":"${System.getProperty("java.version")}",""" +
      s""""heap_max_gb":${rt.maxMemory() / 1e9},"cpus":${rt.availableProcessors()},""" +
      s""""load_avg":${os.getSystemLoadAverage},"spark_threads":"$cpus",$fields}"""
  }

  /** Inter-window hygiene: every Persist.hot/cut inside a measured run
    * leaves cached or localCheckpoint'd blocks alive until the driver GCs
    * the last reference — across ~4x130 query executions that squeezes
    * execution memory (spill-visible: the SAME query measured 3-4x
    * slower at the end-to-end contract size than in isolation). Each
    * window's blocks are dead once it returns, so releasing them between
    * timed windows measures the engine, not the harness's accumulated
    * garbage; a window still pays its OWN materialization. The GC forces
    * the dead blocks OUT before the next window: without it, collection
    * debt from window N lands as a GC pause inside window N+1 — observed
    * as 2-4x per-query swings that vanish when the same query runs
    * isolated. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Median of the timed passes (the mean of the middle two when even). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** local[cpus] builder with the shared baseline: shuffle partitions =
    * thread count (local[n] has no cluster to fan to; AQE coalesces
    * below it), UTC (all oracle arithmetic is UTC), UI off, AQE trio
    * pinned. Callers append their own extras (nanosAsLong for
    * event-fixture readers, warehouse dir for tests). */
  def local(cpus: String): SparkSession.Builder = {
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — ad-hoc session conf overrides for
    // same-binary A/B experiments and deployment-specific tuning (e.g.
    // spark.sql.join.preferSortMergeJoin=false on a cluster). Applied
    // LAST, so an experiment can override a pinned knob without a
    // recompile; empty/absent = exactly the pinned baseline.
    // fail FAST on malformed entries (empty key, or no '='): the knob
    // exists for trusted same-binary A/B experiments, where a typo'd
    // entry silently no-op'ing would invalidate the experiment without
    // any signal (ADVICE r15)
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        require(kv.contains("="),
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
        val Array(k, v) = kv.split("=", 2)
        require(k.trim.nonEmpty,
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' has an empty key")
        (k.trim, v)
      }
    (adaptiveKnobs ++ extra).foldLeft(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    ) { case (b, (k, v)) => b.config(k, v) }
  }
}
