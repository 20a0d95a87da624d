package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TableSinkSpec extends SparkSpec {
  import spark.implicits._

  test("S2: day-partitioned write produces date directories + pruning scan") {
    val out = Files.createTempDirectory("graft_sink").toString
    val df = Seq(
      (1L, "2024-01-15"), (2L, "2024-01-15"), (3L, "2024-01-16")
    ).toDF("id", "ingest_date")
    TableSink.writeDayPartitioned(df, "ingest_date", out)
    assert(new java.io.File(s"$out/ingest_date=2024-01-15").exists())
    val read = spark.read.parquet(out).filter(col("ingest_date") === "2024-01-15")
    assert(read.count() == 2)
    // partition filter must prune, not scan-and-filter
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && !plan.contains("PushedFilters: [IsNotNull(ingest_date)"))
  }

  test("santiagoDate buckets a UTC instant into the America/Santiago day") {
    // 2024-01-15 02:30 UTC = 2024-01-14 23:30 in Santiago (UTC-3, summer)
    val df = Seq("2024-01-15 02:30:00").toDF("ts")
      .select(TableSink.santiagoDate(col("ts").cast("timestamp")).as("d"))
    assert(df.collect().head.getDate(0).toString == "2024-01-14")
  }

  test("santiagoDate holds across both Chile DST transitions (the DAG:35 caveat)") {
    // Chile (tzdata): DST ends the first Sunday >= Apr 2 at 03:00 UTC
    // (00:00 local falls back to 23:00, so the Saturday lasts 25h local)
    // and begins the first Sunday >= Sep 2 at 04:00 UTC (00:00 local
    // springs to 01:00 — the 00:xx local hour never exists that day).
    // 2024: Apr 7 and Sep 8.
    val cases = Seq(
      ("2024-04-07 02:59:00", "2024-04-06"), // UTC-3 still: 23:59 Sat
      ("2024-04-07 03:30:00", "2024-04-06"), // after fallback, UTC-4: 23:30 Sat again
      ("2024-04-07 04:00:00", "2024-04-07"), // 00:00 Sun — new day starts 25h in
      ("2024-09-08 03:59:00", "2024-09-07"), // UTC-4 still: 23:59 Sat
      ("2024-09-08 04:00:00", "2024-09-08")  // springs to 01:00 Sun (00:xx skipped)
    )
    val got = cases.map(_._1).toDF("ts")
      .select(col("ts"), TableSink.santiagoDate(col("ts").cast("timestamp")).as("d"))
      .collect().map(r => r.getString(0) -> r.getDate(1).toString).toMap
    for ((ts, want) <- cases)
      assert(got(ts) == want, s"$ts UTC should bucket to Santiago day $want")
  }

  test("writeSorted: per-file key ranges are disjoint (stats can prune)") {
    val out = Files.createTempDirectory("graft_sorted").toString
    // a deterministic permutation of 0..999 — maximally interleaved input,
    // so only the range exchange can make file ranges disjoint
    val df = spark.range(1000).select(pmod(col("id") * 7919, lit(1000)).as("k"))
    TableSink.writeSorted(df, out, Seq("k"), files = 4)
    val parts = new java.io.File(out).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 4, s"expected 4 range files, got ${parts.length}")
    val ranges = parts.map { f =>
      val r = spark.read.parquet(f.getPath).agg(min("k"), max("k"), count(lit(1)))
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }.sortBy(_._1)
    assert(ranges.map(_._3).sum == 1000L)
    ranges.sliding(2).foreach { case Array((_, hi, _), (lo, _, _)) =>
      assert(hi < lo, s"file ranges overlap: max $hi >= next min $lo")
    }
  }

  test("writeZOrder: every file is a small rectangle of BOTH dims; single-sort is not") {
    // a full 64x64 grid — under z-order, 16 contiguous z-ranges are
    // ~16x16 quads, so BOTH dims stay tight per file; a single-column
    // sort makes b span the whole domain in every file
    val grid = spark.range(64L * 64)
      .select((col("id") / 64).cast("long").as("a"), pmod(col("id"), lit(64L)).as("b"))
    def spans(dir: String): (Double, Double) = {
      val parts = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 16, s"expected 16 files, got ${parts.length}")
      val sp = parts.map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(max("a") - min("a"), max("b") - min("b")).collect().head
        (r.getLong(0).toDouble, r.getLong(1).toDouble)
      }
      (sp.map(_._1).sum / sp.length, sp.map(_._2).sum / sp.length)
    }
    val zDir = Files.createTempDirectory("graft_zorder").toString
    TableSink.writeZOrder(grid, zDir, "a", "b", files = 16)
    val (za, zb) = spans(zDir)
    assert(za <= 32.0 && zb <= 32.0, s"z-order spans too wide: a=$za b=$zb")
    val sDir = Files.createTempDirectory("graft_singlesort").toString
    TableSink.writeSorted(grid, sDir, Seq("a"), files = 16)
    val (_, sb) = spans(sDir)
    assert(sb >= 48.0, s"single-sort control should span b, got $sb")
    assert(zb < sb / 2, s"z-order must beat single-sort on the second dim: $zb vs $sb")
    // same rows either way
    assert(spark.read.parquet(zDir).count() == 64L * 64)
  }

  test("snapshotStore: swapWrite alternates sides and read always sees a full snapshot") {
    val root = Files.createTempDirectory("graft_snap").toString
    assert(SnapshotStore.read(spark, root).isEmpty)
    SnapshotStore.swapWrite(Seq((1L, "v1")).toDF("k", "v"), root)
    val s1 = SnapshotStore.currentSide(spark, root)
    assert(s1.contains("A"))
    SnapshotStore.swapWrite(Seq((1L, "v2"), (2L, "w")).toDF("k", "v"), root)
    assert(SnapshotStore.currentSide(spark, root).contains("B"))
    assert(SnapshotStore.read(spark, root).get.count() == 2)
    // a third write must come back to A (rotation, not accumulation)
    SnapshotStore.swapWrite(Seq((9L, "z")).toDF("k", "v"), root)
    assert(SnapshotStore.currentSide(spark, root).contains("A"))
    assert(SnapshotStore.read(spark, root).get.collect().head.getLong(0) == 9L)
  }

  test("snapshotStore.compact: collapses small files through the A/B rotation, data intact") {
    val root = Files.createTempDirectory("graft_compact").toString
    // no snapshot yet: compaction is a no-op, not a crash
    assert(SnapshotStore.compact(spark, root, targetBytes = 1L << 20).isEmpty)
    // simulate many per-batch dribs: a 32-file snapshot of a small table
    val df = (1L to 2000L).map(i => (i, s"v$i")).toDF("k", "v")
    SnapshotStore.swapWrite(df.repartition(32), root)
    val side0 = SnapshotStore.currentSide(spark, root).get
    def parquetFiles(side: String) =
      new java.io.File(s"$root/$side").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(side0) == 32)
    // a generous byte target collapses everything into one file
    assert(SnapshotStore.compact(spark, root, targetBytes = 1L << 30).contains(1))
    val side1 = SnapshotStore.currentSide(spark, root).get
    assert(side1 != side0, "compaction must land on the other side")
    assert(parquetFiles(side1) == 1)
    // identical rows after the rewrite
    val got = SnapshotStore.read(spark, root).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (1L to 2000L).map(i => (i, s"v$i")).toSet)
    // partitioned snapshots keep their layout through compaction
    val proot = Files.createTempDirectory("graft_compact_p").toString
    val pdf = (1L to 100L).map(i => (i, (i % 3).toString)).toDF("k", "day")
    SnapshotStore.swapWrite(pdf.repartition(8), proot, partitionBy = Seq("day"))
    SnapshotStore.compact(spark, proot, targetBytes = 1L << 30, partitionBy = Seq("day"))
    val pside = SnapshotStore.currentSide(spark, proot).get
    assert(new java.io.File(s"$proot/$pside").listFiles()
      .count(_.getName.startsWith("day=")) == 3)
    assert(SnapshotStore.read(spark, proot).get.count() == 100)
  }

  test("compact: collapses a many-file directory, idempotent, data intact") {
    val out = Files.createTempDirectory("graft_tscompact").toString + "/t"
    val df = (1L to 2000L).map(i => (i, s"v$i")).toDF("k", "v")
    df.repartition(32).write.parquet(out)
    def files() = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files() == 32)
    assert(TableSink.compact(spark, out, targetBytes = 1L << 30) == 1)
    assert(files() == 1)
    // idempotent: measured footprint now fits one target file already
    assert(TableSink.compact(spark, out, targetBytes = 1L << 30) == 1)
    assert(files() == 1)
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (1L to 2000L).map(i => (i, s"v$i")).toSet)
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    val a = (1L to 1000L).map(i => (i, s"a$i")).toDF("id", "va")
    val b = (1L to 1000L).map(i => (i, s"b$i")).toDF("id", "vb")
    TableSink.writeBucketed(a, "graft_bkt_a", "id", buckets = 4)
    TableSink.writeBucketed(b, "graft_bkt_b", "id", buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE graft_bkt_a")
      spark.sql("DROP TABLE graft_bkt_b")
    }
  }
}
