package graft

/** Pins the runtime knobs the 100 TB design leans on to the SESSION
  * BUILDER, not to Spark defaults: SkewBenchSpec proves the operators'
  * candidate/size ceilings under skew, but the runtime half of that
  * story — AQE re-planning hot shuffles — only holds if the adaptive
  * trio is actually on in every entry point. `Sessions.local` is the
  * ONE builder behind Main / Verify / Bench and this test session, so
  * asserting the live session here covers all four. */
class SessionConfigSpec extends SparkSpec {

  test("the AQE trio is pinned ON in the shared session builder") {
    for ((k, v) <- Sessions.adaptiveKnobs)
      assert(spark.conf.get(k) == v, s"$k must be pinned to $v")
  }

  test("the baseline knobs hold: UTC arithmetic, local-sized shuffle partitions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "oracle arithmetic (date_trunc, unix_micros) assumes UTC sessions")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt <= 64,
      "local[n] sessions size shuffle partitions to the thread count, not 200")
  }

  test("the knob list itself names exactly the adaptive set (a rename cannot silently drop one)") {
    assert(Sessions.adaptiveKnobs.map(_._1).sorted == Seq(
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled"))
  }

  test("a contract main given the wrong argument count prints its usage line and exits 2") {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    for ((main, args) <- Seq("graft.Main" -> Seq("in"), "graft.Verify" -> Nil,
                             "graft.PlanDump" -> Seq("out", "tag", "all", "extra"))) {
      val p = new ProcessBuilder((Seq(java, "-cp", cp, main) ++ args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes())
      assert(p.waitFor() == 2, s"$main ${args.mkString(" ")}: $out")
      assert(out.contains(s"usage: $main "), out)
    }
  }
}
