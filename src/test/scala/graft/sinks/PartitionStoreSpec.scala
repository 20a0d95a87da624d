package graft.sinks

import java.nio.file.Files

import graft.SparkSpec

class PartitionStoreSpec extends SparkSpec {
  import spark.implicits._

  private def dt(s: String) = java.sql.Date.valueOf(s)

  private def content(root: String): Seq[(Long, String, String)] =
    PartitionStore.read(spark, root).get.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        Option(r.getAs[java.sql.Date]("d")).map(_.toString).orNull))
      .sortBy(t => (t._1, t._2)).toSeq

  test("upsert law over rotating partitions: updates win wholesale, unmatched history survives, emptied partitions leave the manifest") {
    val root = Files.createTempDirectory("graft_pstore").toString
    PartitionStore.upsert(
      Seq((1L, "a", dt("2024-01-01")), (2L, "b", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d")
    PartitionStore.upsert(
      Seq((3L, "c", dt("2024-01-02"))).toDF("id", "v", "d"), root, "id", "d")
    val p1 = new java.io.File(s"$root/2024-01-01/A")
    val before = p1.listFiles.map(f => f.getName -> f.lastModified).toMap
    // day 3 re-delivers id 3 under a new date (its old partition
    // empties) + a new id 4; 2024-01-01 is NOT affected
    PartitionStore.upsert(
      Seq((3L, "c2", dt("2024-01-03")), (4L, "e", dt("2024-01-03"))).toDF("id", "v", "d"),
      root, "id", "d")
    assert(content(root) == Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "c2", "2024-01-03"), (4L, "e", "2024-01-03")))
    val m = PartitionStore.manifest(spark, root).get
    assert(m.keySet == Set("2024-01-01", "2024-01-03"),
      s"emptied partition must drop out of the manifest: $m")
    // the untouched partition's live side was never rewritten
    val after = p1.listFiles.map(f => f.getName -> f.lastModified).toMap
    assert(after == before, "unaffected partition was rewritten")
  }

  test("NULL dateCol rows are first-class partitions and obey the upsert law") {
    val root = Files.createTempDirectory("graft_pstore_null").toString
    PartitionStore.upsert(
      Seq((1L, "a", null: java.sql.Date), (2L, "b", dt("2024-01-01")))
        .toDF("id", "v", "d"), root, "id", "d")
    assert(PartitionStore.manifest(spark, root).get.keySet ==
      Set("__HIVE_DEFAULT_PARTITION__", "2024-01-01"))
    assert(content(root) == Seq((1L, "a", null), (2L, "b", "2024-01-01")))
    // re-deliver key 1 under a real date: its old NULL-partition row
    // must be REPLACED, not duplicated (the isin(null) hazard of the
    // round-12 advice), and the emptied null partition leaves the
    // manifest
    PartitionStore.upsert(
      Seq((1L, "a2", dt("2024-01-02"))).toDF("id", "v", "d"), root, "id", "d")
    assert(content(root) == Seq((1L, "a2", "2024-01-02"), (2L, "b", "2024-01-01")))
    assert(PartitionStore.manifest(spark, root).get.keySet ==
      Set("2024-01-01", "2024-01-02"))
  }

  test("crash window: a staged-but-uncommitted upsert is invisible; commit flips atomically; an abandoned stage retries cleanly") {
    val root = Files.createTempDirectory("graft_pstore_crash").toString
    PartitionStore.upsert(
      Seq((1L, "a", dt("2024-01-01")), (2L, "b", dt("2024-01-02")))
        .toDF("id", "v", "d"), root, "id", "d")
    val old = content(root)
    val day = Seq((2L, "b2", dt("2024-01-03")), (5L, "f", dt("2024-01-03")))
      .toDF("id", "v", "d")
    // "kill between overwrite and delete": stage runs EVERY data write
    // (idle sides populated, 2024-01-02 would empty) but the process
    // dies before commit — readers must see the old state, exactly
    val staged = PartitionStore.stageUpsert(day, root, "id", "d")
    assert(content(root) == old, "uncommitted stage leaked into readers")
    assert(PartitionStore.manifest(spark, root).get.keySet ==
      Set("2024-01-01", "2024-01-02"))
    // the retried run re-stages over the orphaned idle sides, then
    // commits — one atomic rename later the new state is complete
    val staged2 = PartitionStore.stageUpsert(day, root, "id", "d")
    assert(staged2.newManifest == staged.newManifest)
    staged2.commit()
    assert(content(root) == Seq((1L, "a", "2024-01-01"),
      (2L, "b2", "2024-01-03"), (5L, "f", "2024-01-03")))
    assert(PartitionStore.manifest(spark, root).get.keySet ==
      Set("2024-01-01", "2024-01-03"))
  }

  test("affected-dates probe: column-pruned (key, date) scan with the day-key range pregate pushed to parquet") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_pstore_probe").toString
    // two live partitions, keys 0..199 — written key-sorted by stageUpsert
    PartitionStore.upsert(
      spark.range(200).select(col("id"),
        concat(lit("v"), col("id")).as("v"),
        when(col("id") < 100, lit(java.sql.Date.valueOf("2024-01-01")))
          .otherwise(lit(java.sql.Date.valueOf("2024-01-02"))).as("d")),
      root, "id", "d")
    val day = spark.range(150, 260).select(col("id"),
      lit("new").as("v"), lit(java.sql.Date.valueOf("2024-01-03")).as("d"))
    val hist = PartitionStore.read(spark, root).get
    val probe = PartitionStore.affectedDatesProbe(hist, day, "id", "d")
    // correctness: only the partition holding re-delivered keys shows up
    assert(probe.distinct().collect().map(_.getDate(0).toString).toSeq ==
      Seq("2024-01-02"))
    val plan = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the probe reads TWO columns and carries the day-key range down to
    // the parquet reader — with the store's key-sorted partition files,
    // row-group stats satisfy the range and the read skips history
    // outside today's key window
    assert(plan.contains("ReadSchema: struct<id:bigint,d:date>"), plan)
    assert(plan.contains("GreaterThanOrEqual(id,150)") &&
      plan.contains("LessThanOrEqual(id,259)"),
      s"day-key range pregate not pushed to the scan:\n$plan")
  }

  test("consecutive upserts of one partition alternate its sides (the reader-survives-one-swap contract)") {
    val root = Files.createTempDirectory("graft_pstore_ab").toString
    def side() = PartitionStore.manifest(spark, root).get("2024-01-01")
    PartitionStore.upsert(Seq((1L, "a", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d")
    val s1 = side()
    PartitionStore.upsert(Seq((1L, "a2", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d")
    val s2 = side()
    assert(s1 != s2, "rewrite landed on the live side")
    assert(content(root) == Seq((1L, "a2", "2024-01-01")))
  }

  test("an EMPTY day is a committed no-op: same manifest, same content") {
    val root = Files.createTempDirectory("graft_pstore_empty").toString
    PartitionStore.upsert(
      Seq((1L, "a", dt("2024-06-01")), (2L, "b", null: java.sql.Date))
        .toDF("id", "v", "d"), root, "id", "d")
    val m1 = PartitionStore.manifest(spark, root).get
    val before = content(root)
    PartitionStore.upsert(
      Seq.empty[(Long, String, java.sql.Date)].toDF("id", "v", "d"),
      root, "id", "d")
    assert(PartitionStore.manifest(spark, root).get == m1)
    assert(content(root) == before)
  }

  test("partition values needing path-escaping round-trip the law (manifest keys match Spark's escaped dir names)") {
    val root = Files.createTempDirectory("graft_pstore_esc").toString
    // '%' and ':' are in Spark's escape set: a raw toString dir name
    // would miss the live partition on the keep side and duplicate the
    // re-delivered key (the round-13 advice finding)
    val d1 = "2024%01:x"
    PartitionStore.upsert(
      Seq((1L, "a", d1), (2L, "b", d1)).toDF("id", "v", "d"), root, "id", "d")
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(d1)
    assert(esc != d1, s"fixture must need escaping, got $esc")
    assert(PartitionStore.manifest(spark, root).get.keySet == Set(esc))
    // re-deliver key 1 under a clean date: the escaped live partition
    // must be found, rewritten without id 1, and key 1 must NOT duplicate
    PartitionStore.upsert(
      Seq((1L, "a2", "2024-01-02")).toDF("id", "v", "d"), root, "id", "d")
    val rows = PartitionStore.read(spark, root).get.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a2", "2024-01-02"), (2L, "b", d1)))
    assert(PartitionStore.manifest(spark, root).get.keySet ==
      Set(esc, "2024-01-02"))
  }

  test("sides=3 retention: a reader's plan survives TWO concurrent upserts of its partition") {
    val root = Files.createTempDirectory("graft_pstore_ret").toString
    PartitionStore.upsert(Seq((1L, "v1", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d", sides = 3)
    // reader plans here: the frame's file listing is resolved against
    // the v1 side and must stay readable through two rotations
    val reader = PartitionStore.read(spark, root).get
    PartitionStore.upsert(Seq((1L, "v2", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d", sides = 3)
    PartitionStore.upsert(Seq((1L, "v3", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d", sides = 3)
    assert(reader.collect().map(_.getString(1)).toSeq == Seq("v1"),
      "reader lost its side within the retention window")
    assert(content(root) == Seq((1L, "v3", "2024-01-01")))
    // the THIRD upsert reuses the reader's side (cycle length 3) — the
    // documented edge of the retention window
    PartitionStore.upsert(Seq((1L, "v4", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d", sides = 3)
    val m = PartitionStore.manifest(spark, root).get
    assert(m("2024-01-01") == "A", s"cycle should be back to A: $m")
  }

  test("spark.graft.store.sides conf drives the rotation when no explicit sides arg is passed") {
    val root = Files.createTempDirectory("graft_pstore_conf").toString
    spark.conf.set(PartitionStore.sidesKey, "3")
    try {
      def side() = PartitionStore.manifest(spark, root).get("2024-01-01")
      for (v <- Seq("v1", "v2", "v3"))
        PartitionStore.upsert(Seq((1L, v, dt("2024-01-01"))).toDF("id", "v", "d"),
          root, "id", "d") // no sides arg: the conf decides
      assert(side() == "C", "conf-driven 3-side cycle should be at C after 3 upserts")
      assert(content(root) == Seq((1L, "v3", "2024-01-01")))
    } finally spark.conf.unset(PartitionStore.sidesKey)
  }

  test("manifest survives the local-FS overwrite-rename window via the .tmp fallback") {
    val root = Files.createTempDirectory("graft_pstore_tmpfb").toString
    PartitionStore.upsert(Seq((1L, "a", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d")
    val m = new java.io.File(s"$root/_manifest")
    val tmp = new java.io.File(s"$root/_manifest.tmp")
    // simulate the crash between the local FS's delete and rename: only
    // the fully-written tmp remains
    assert(m.renameTo(tmp))
    assert(PartitionStore.manifest(spark, root).get.keySet == Set("2024-01-01"),
      "reader must fall back to the complete _manifest.tmp")
    assert(content(root) == Seq((1L, "a", "2024-01-01")))
  }

  test("commit from the fallback state PROMOTES the tmp and sweeps unique-name strays — the truncate-the-only-copy window is closed") {
    val root = Files.createTempDirectory("graft_pstore_promote").toString
    PartitionStore.upsert(Seq((1L, "a", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d")
    // simulate a crash inside the final rename's local-FS
    // delete-then-rename window (only the complete tmp remains) plus a
    // stray partial unique file from the same crashed commit
    val m = new java.io.File(s"$root/_manifest")
    assert(m.renameTo(new java.io.File(s"$root/_manifest.tmp")))
    val stray = new java.io.File(s"$root/_manifest.new.deadbeef")
    java.nio.file.Files.writeString(stray.toPath, "2024-01-99\t") // partial
    // the next commit must not truncate the only manifest copy: it
    // promotes tmp -> _manifest first, then writes via a fresh unique
    // name — the old state stays readable at every instant
    PartitionStore.upsert(Seq((2L, "b", dt("2024-01-02"))).toDF("id", "v", "d"),
      root, "id", "d")
    assert(new java.io.File(s"$root/_manifest").isFile)
    assert(!stray.exists, "crashed-commit stray must be swept")
    assert(PartitionStore.manifest(spark, root).get.keySet ==
      Set("2024-01-01", "2024-01-02"),
      "day-1 state must survive a commit issued from the fallback state")
    assert(content(root) == Seq((1L, "a", "2024-01-01"),
      (2L, "b", "2024-01-02")))
  }

  test("sides persists in the manifest: a later caller defaulting to 2 keeps the store's 3-cycle") {
    val root = Files.createTempDirectory("graft_pstore_psides").toString
    def side() = PartitionStore.manifest(spark, root).get("2024-01-01")
    // born with an explicit sides=3; conf stays UNSET throughout
    PartitionStore.upsert(Seq((1L, "v1", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d", sides = 3)
    assert(PartitionStore.manifestState(spark, root).get.sides.contains(3))
    // defaulting callers (sides = 0, no conf) must inherit the 3-cycle —
    // the round-14 advice retention break was exactly this rotation
    // falling back to 2 and overwriting the side one rotation old
    PartitionStore.upsert(Seq((1L, "v2", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d")
    assert(side() == "B")
    PartitionStore.upsert(Seq((1L, "v3", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d")
    assert(side() == "C", "defaulting caller must rotate on the persisted 3-cycle")
    assert(content(root) == Seq((1L, "v3", "2024-01-01")))
  }

  test("a v1 manifest (no header) reads compatibly and upgrades to v2 on the next commit") {
    val root = Files.createTempDirectory("graft_pstore_v1").toString
    PartitionStore.upsert(Seq((1L, "a", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d")
    // rewrite the manifest as v1: entry lines only
    val mPath = java.nio.file.Paths.get(s"$root/_manifest")
    val v1 = java.nio.file.Files.readString(mPath).split("\n")
      .filterNot(_.startsWith("#")).mkString("", "\n", "\n")
    java.nio.file.Files.writeString(mPath, v1)
    val st = PartitionStore.manifestState(spark, root).get
    assert(st.meta.isEmpty && st.tombs.isEmpty &&
      st.entries.keySet == Set("2024-01-01"))
    PartitionStore.upsert(Seq((2L, "b", dt("2024-01-02"))).toDF("id", "v", "d"),
      root, "id", "d")
    val st2 = PartitionStore.manifestState(spark, root).get
    assert(st2.epoch == 1L && st2.sides.contains(2),
      s"v2 upgrade must carry epoch + sides: ${st2.meta}")
    assert(content(root) == Seq((1L, "a", "2024-01-01"),
      (2L, "b", "2024-01-02")))
  }

  test("vacuum reclaims emptied-partition dirs only after the sides-1 commit window, drops untracked dirs, keeps live dates' rotation copies") {
    val root = Files.createTempDirectory("graft_pstore_vac").toString
    PartitionStore.upsert(Seq((1L, "a", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d") // epoch 1
    PartitionStore.upsert(Seq((1L, "a2", dt("2024-01-02"))).toDF("id", "v", "d"),
      root, "id", "d") // epoch 2: 2024-01-01 emptied + tombstoned
    PartitionStore.upsert(Seq((1L, "a3", dt("2024-01-02"))).toDF("id", "v", "d"),
      root, "id", "d") // epoch 3: 01-02 rotates A->B (stale A copy = window)
    val junk = new java.io.File(s"$root/zzz_untracked/x")
    junk.getParentFile.mkdirs()
    java.nio.file.Files.writeString(junk.toPath, "garbage")
    val (dropped, cleared) = PartitionStore.vacuum(spark, root)
    assert(dropped == 2 && cleared == 1, s"($dropped, $cleared)")
    assert(!new java.io.File(s"$root/2024-01-01").exists,
      "emptied dir past the window must be reclaimed")
    assert(!junk.getParentFile.exists, "untracked dir must be reclaimed")
    assert(new java.io.File(s"$root/2024-01-02/A").isDirectory &&
      new java.io.File(s"$root/2024-01-02/B").isDirectory,
      "a live date's rotation copies are a lagging reader's window — kept")
    assert(PartitionStore.manifestState(spark, root).get.tombs.isEmpty)
    assert(content(root) == Seq((1L, "a3", "2024-01-02")))
    // and BEFORE the window passes, vacuum keeps a young tombstone's dir:
    PartitionStore.upsert(Seq((1L, "a4", dt("2024-01-03"))).toDF("id", "v", "d"),
      root, "id", "d") // epoch 4: 01-02 emptied + tombstoned at 4
    assert(PartitionStore.vacuum(spark, root) == (0, 0),
      "vacuum must not reclaim inside the reader window")
    assert(new java.io.File(s"$root/2024-01-02").exists)
  }

  test("compact: a NULL-date partition rides the same pass — law-neutral, manifest keeps the sentinel key") {
    val root = Files.createTempDirectory("graft_pstore_cnull").toString
    PartitionStore.upsert(
      Seq((1L, "a", null: java.sql.Date), (2L, "b", dt("2024-01-01")),
        (3L, "c", null: java.sql.Date)).toDF("id", "v", "d"),
      root, "id", "d")
    val old = content(root)
    PartitionStore.compact(spark, root, "id", "d", targetBytes = 16 * 1024)
    assert(content(root) == old, "null-date compaction changed the law")
    assert(PartitionStore.manifest(spark, root).get.keySet ==
      Set("__HIVE_DEFAULT_PARTITION__", "2024-01-01"))
  }

  test("compact: law-neutral, and every partition's files become key-sorted with DISJOINT ranges (row-group stats prune again)") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_pstore_compact").toString
    // adversarially scattered stage: keys hash-scattered across 8 tasks,
    // so each staged file spans ~the whole key domain
    val day = spark.range(2000).select(col("id"),
        concat(lit("v"), col("id")).as("v"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("d"))
      .repartition(8, col("v"))
    PartitionStore.upsert(day, root, "id", "d")
    def fileRanges(): Seq[(Long, Long)] = {
      val side = PartitionStore.manifest(spark, root).get("2024-01-01")
      new java.io.File(s"$root/2024-01-01/$side").listFiles
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val ids = spark.read.parquet(f.toString).select("id")
            .collect().map(_.getLong(0))
          assert(ids.sameElements(ids.sorted), s"file not key-sorted: $f")
          (ids.min, ids.max)
        }
    }
    val before = fileRanges()
    assert(before.size > 1 && before.count { case (lo, hi) => lo < 500 && hi >= 1500 } > 1,
      s"scatter fixture should produce overlapping wide files: $before")
    val old = content(root)
    PartitionStore.compact(spark, root, "id", "d", targetBytes = 16 * 1024)
    assert(content(root) == old, "compaction changed the law")
    val after = fileRanges().sortBy(_._1)
    assert(after.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"compacted files must hold disjoint key ranges: $after")
  }

  test("vacuum is idempotent and crash-tolerant: an interrupted delete-then-commit re-runs to the same clean state") {
    val root = Files.createTempDirectory("graft_pstore_vaccrash").toString
    PartitionStore.upsert(Seq((1L, "a", dt("2024-01-01"))).toDF("id", "v", "d"),
      root, "id", "d") // epoch 1
    PartitionStore.upsert(Seq((1L, "b", dt("2024-01-02"))).toDF("id", "v", "d"),
      root, "id", "d") // epoch 2: 01-01 emptied + tombstoned
    PartitionStore.upsert(Seq((1L, "c", dt("2024-01-02"))).toDF("id", "v", "d"),
      root, "id", "d") // epoch 3: window passed for 01-01
    // crash simulation: a vacuum that died AFTER deleting the
    // reclaimable dir but BEFORE committing the pruned tombstone set —
    // dir gone, tombstone still in the manifest
    val dir = new java.io.File(s"$root/2024-01-01")
    assert(dir.isDirectory)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    assert(PartitionStore.manifestState(spark, root).get.tombs.keySet ==
      Set("2024-01-01"))
    // the store stays readable and law-correct in the crash state
    assert(content(root) == Seq((1L, "c", "2024-01-02")))
    // the re-run converges: nothing left to delete (the fs drop is
    // idempotent), the orphaned tombstone clears
    val (dropped, cleared) = PartitionStore.vacuum(spark, root)
    assert(dropped == 0 && cleared == 1, s"($dropped, $cleared)")
    assert(PartitionStore.manifestState(spark, root).get.tombs.isEmpty)
    // and a second vacuum is a strict no-op
    assert(PartitionStore.vacuum(spark, root) == ((0, 0)))
    assert(content(root) == Seq((1L, "c", "2024-01-02")))
  }
}
