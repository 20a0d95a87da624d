package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val d = Seq(
    (1L, "short doc"),
    (2L, "x " * 200 + "end")  // 403 bytes -> 6 fake frames
  ).toDF("doc_id", "text")

  test("asBinaryTable: content round-trips and n_bytes is the byte length") {
    val got = Multimodal.asBinaryTable(d)
      .select(col("doc_id"), decode(col("content"), "UTF-8").as("back"),
        col("meta.n_bytes"), col("meta.mime"))
      .orderBy("doc_id").collect()
    assert(got(0).getString(1) == "short doc")
    assert(got(0).getLong(2) == 9L)
    assert(got(1).getLong(2) == 403L)
    assert(got(0).getString(3) == "application/octet-stream")
  }

  test("decodeImageMeta stub: deterministic, bounded dimensions") {
    val img = Multimodal.decodeImageMeta(Multimodal.asBinaryTable(d))
      .select("doc_id", "image.width", "image.height", "image.mean_luma")
      .orderBy("doc_id").collect()
    val again = Multimodal.decodeImageMeta(Multimodal.asBinaryTable(d))
      .select("doc_id", "image.width", "image.height", "image.mean_luma")
      .orderBy("doc_id").collect()
    assert(img.toSeq == again.toSeq)
    img.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 1920)
      assert(r.getLong(2) >= 1 && r.getLong(2) <= 1080)
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 255)
    }
  }

  test("sampleFrames: stride-sampled indices, ceil(n_frames/stride) rows") {
    val frames = Multimodal.sampleFrames(Multimodal.asBinaryTable(d), stride = 2)
      .groupBy("doc_id").agg(count(lit(1)).as("n"), max("frame_idx").as("mx"))
      .orderBy("doc_id").collect()
    // doc 1: 9 bytes -> n_frames=1 -> indices [0]      -> 1 row
    // doc 2: 403 bytes -> n_frames=6 -> [0,2,4]        -> 3 rows
    assert(frames(0).getLong(1) == 1L && frames(0).getLong(2) == 0L)
    assert(frames(1).getLong(1) == 3L && frames(1).getLong(2) == 4L)
  }

  test("chunkBinary: overlapping byte windows, end clamp, empty payloads drop") {
    import spark.implicits._
    val bin = Multimodal.asBinaryTable(
      Seq((1L, "abcdefghij"), (2L, "")).toDF("doc_id", "text"))
    val out = Multimodal.chunkBinary(bin, windowBytes = 4, strideBytes = 3)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        new String(r.getAs[Array[Byte]](4), "UTF-8")))
      .toSeq
    // starts 1,4,7,10: the last window clamps to the single trailing byte
    assert(out == Seq(
      (1L, 0L, 1L, 4L, "abcd"), (1L, 1L, 4L, 4L, "defg"),
      (1L, 2L, 7L, 4L, "ghij"), (1L, 3L, 10L, 1L, "j")))
    intercept[IllegalArgumentException] {
      Multimodal.chunkBinary(bin, windowBytes = 2, strideBytes = 3)
    }
  }

  test("duplicateChunks: shared and looped windows flag; unique payloads score 0") {
    import spark.implicits._
    val a = "A" * 32 + "B" * 32
    val docs = Seq(
      (1L, a),                              // shares every full window with doc 2
      (2L, a),
      (3L, "C" * 20 + "D" * 20 + "E" * 24), // unique content, no repeats
      (4L, ("E" * 16) * 4)                  // 16-byte unit looped: aligned windows identical
    ).toDF("doc_id", "text")
    val out = Multimodal.duplicateChunks(Multimodal.asBinaryTable(docs), 32, 16)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // docs 1/2: all 3 full 32-byte windows (offsets 1,17,33) cross-duplicated
    assert(out(1L) == ((3L, 3L)) && out(2L) == ((3L, 3L)))
    // doc 4: its 3 aligned windows are the same bytes — the within-payload loop flags
    assert(out(4L)._1 == 3L)
    // doc 3: nothing shared, nothing repeated
    assert(out(3L)._1 == 0L && out(3L)._2 == 3L)
  }

  test("cdcChunks: exact coverage, max-size bound, boundaries resynchronize after insertion") {
    // deterministic pseudo-random ASCII payload (LCG) so cuts actually fire
    val payload = {
      var s = 12345L
      (1 to 400).map { _ => s = (s * 1103515245L + 12345L) & 0x7fffffffL
        ('a' + (s % 26)).toChar }.mkString
    }
    def chunks(text: String) = Multimodal.cdcChunks(
        Multimodal.asBinaryTable(Seq((1L, text)).toDF("doc_id", "text")),
        window = 4, mask = 16, maxChunk = 64)
      .orderBy("off_bytes").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    val a = chunks(payload)
    // exact coverage: contiguous offsets, sizes sum to the payload, cap respected
    assert(a.head._1 == 0L)
    a.sliding(2).foreach { case Array((o1, s1, _), (o2, _, _)) =>
      assert(o1 + s1 == o2, s"gap at $o1+$s1 != $o2"); case _ => }
    assert(a.map(_._2).sum == payload.length.toLong)
    assert(a.forall(_._2 <= 64L))
    assert(a.length > 3, s"fixture produced too few chunks (${a.length}) to exercise resync")
    // insertion resilience: prepend 3 bytes; all chunks after the first
    // resynchronized boundary hash identically (a fixed grid shifts ALL)
    val b = chunks("XYZ" + payload)
    val shared = a.map(_._3).toSet intersect b.map(_._3).toSet
    assert(shared.size >= a.length - 2,
      s"only ${shared.size}/${a.length} chunk hashes survived the insertion")
  }

  test("CdcCuts expression equals the per-byte SQL fingerprint formulation (fuzz)") {
    // random payloads incl. shorter-than-window and cut-free ones; the
    // expression must reproduce the SQL cut set EXACTLY (it is what the
    // DuckDB oracle replays), plus the 0 sentinel, ascending
    val (window, mask) = (4, 8)
    var s = 424242L
    def payload(n: Int): String = (1 to n).map { _ =>
      s = (s * 1103515245L + 12345L) & 0x7fffffffL
      ('a' + (s % 26)).toChar }.mkString
    val docs = ((1 to 12).map(i => (i.toLong, payload(i * 17 % 200 + 1))) :+
      (99L, payload(3)))  // shorter than one window: sentinel only
      .toDF("doc_id", "text")
    val bin = Multimodal.asBinaryTable(docs)
      .select(col("doc_id"), col("content"), col("meta.n_bytes").as("nb"))
    val got = bin.select(col("doc_id"),
        graft.GraftFunctions.cdcCuts(bin, col("content"), window, mask).as("cuts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val legacy = bin
      .select(col("doc_id"), col("content"), col("nb"),
        explode(sequence(lit(window.toLong), col("nb"))).as("i"))
      .filter(col("i") < col("nb") &&
        pmod(conv(substring(md5(expr(
          s"substring(content, i - ${window - 1}, $window)")), 1, 15), 16, 10)
          .cast("long"), lit(mask.toLong)) === 0)
      .groupBy("doc_id").agg(sort_array(collect_list(col("i"))).as("cuts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    got.foreach { case (id, cuts) =>
      assert(cuts.head == 0L && cuts == cuts.sorted, s"doc $id malformed: $cuts")
      assert(cuts.tail == legacy.getOrElse(id, Seq.empty[Long]),
        s"doc $id: expr ${cuts.tail} != sql ${legacy.getOrElse(id, Nil)}")
    }
    assert(got(99L) == Seq(0L), "short payload must yield the sentinel only")
    // SQL registration path works too
    bin.createOrReplaceTempView("graft_cdc_bin")
    graft.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      s"SELECT size(graft_cdc_cuts(content, $window, $mask)) FROM graft_cdc_bin WHERE doc_id = 1")
      .collect().head.getInt(0)
    assert(viaSql == got(1L).size)
  }

  test("cdcDuplicateStats: an inserted-bytes mirror still scores as a near-duplicate") {
    val payload = {
      var s = 98765L
      (1 to 400).map { _ => s = (s * 1103515245L + 12345L) & 0x7fffffffL
        ('a' + (s % 26)).toChar }.mkString
    }
    val docs = Seq(
      (1L, payload), (2L, "XYZ" + payload),  // a mirror with 3 bytes inserted
      (3L, payload.reverse)                  // unrelated content
    ).toDF("doc_id", "text")
    val out = Multimodal.cdcDuplicateStats(Multimodal.asBinaryTable(docs),
        window = 4, mask = 16, maxChunk = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // both sides of the mirror share almost every CDC chunk
    assert(out(1L) > 0.5 && out(2L) > 0.5, s"mirror not detected: $out")
    // unrelated content stays clean
    assert(out(3L) == 0.0, s"false positive: $out")
  }
}
