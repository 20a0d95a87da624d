package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride through the
  * engine as opaque BINARY columns plus a typed metadata struct, exactly as
  * a 100 TB multimodal training pipeline would carry them (content stays a
  * byte blob; all relational logic runs on the metadata).
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked DETERMINISTIC STUB: "decoded" properties are derived from
  * the content hash. Everything around it — binary schema, metadata struct,
  * per-row batch shape, frame-sampling explode — is real Spark plumbing and
  * is what gets tested.
  */
object Multimodal {

  /** Wrap a text corpus as a binary-payload table: content BINARY + typed
    * metadata (mime, byte length). Stand-in for reading real media blobs. */
  def asBinaryTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        lit("application/octet-stream").as("mime"),
        octet_length(col("text")).cast("long").as("n_bytes")).as("meta"))

  /** STUB DECODE — deterministic fake image decode. A real deployment swaps
    * this body for a codec call (e.g. via mapInArrow over a JNI decoder);
    * the schema contract (width/height/mean_luma) is the real interface.
    * Fake: dimensions/luma are hex digits of md5(content). */
  def decodeImageMeta(bin: DataFrame): DataFrame = {
    val h = md5(col("content"))
    bin.withColumn("image",
      struct(
        (conv(substring(h, 1, 3), 16, 10).cast("long") % 1920 + 1).as("width"),
        (conv(substring(h, 4, 3), 16, 10).cast("long") % 1080 + 1).as("height"),
        (conv(substring(h, 7, 2), 16, 10).cast("long")).as("mean_luma")))
  }

  /** Frame sampling: emit every `stride`-th "frame" index up to n_frames
    * (fake n_frames = n_bytes / 64). Pure generate — narrow, no shuffle. */
  def sampleFrames(bin: DataFrame, stride: Int): DataFrame =
    decodeImageMeta(bin)
      .withColumn("n_frames", greatest(col("meta.n_bytes") / 64, lit(1)).cast("long"))
      .select(col("doc_id"), col("image"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong))).as("frame_idx"))

  /** Byte-window chunking over the raw binary payload — the audio/ASR
    * prep step (fixed-duration windows with overlap) done entirely on
    * bytes, NO decode: for PCM-style payloads a window of w bytes at
    * stride s IS a time window, and cutting it needs only substring
    * arithmetic on the BINARY column. Mirrors
    * [[TextAnalysis.chunkDocs]]' shape: one bounded posexplode over the
    * start offsets (ceil(n_bytes/stride) rows per payload), array-free,
    * narrow, no shuffle; the final short window clamps at the payload
    * end. Offsets are 1-based (SQL substring convention). Empty payloads
    * emit nothing.
    * Output: doc_id, chunk_idx, off_bytes, chunk_bytes, chunk (BINARY). */
  def chunkBinary(bin: DataFrame, windowBytes: Int, strideBytes: Int): DataFrame = {
    require(windowBytes >= 1 && strideBytes >= 1, "window and stride must be >= 1")
    require(strideBytes <= windowBytes,
      "stride > window would skip bytes between consecutive chunks")
    bin.filter(col("meta.n_bytes") > 0)
      .select(col("doc_id"), col("content"), col("meta.n_bytes").as("__nb"),
        posexplode(sequence(lit(1L), col("meta.n_bytes"), lit(strideBytes.toLong))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        col("col").as("off_bytes"),
        least(lit(windowBytes.toLong), col("__nb") - col("col") + 1L).as("chunk_bytes"),
        expr(s"substring(content, col, $windowBytes)").as("chunk"))
  }

  /** Cross-payload duplicate byte windows — [[graft.operators.Dedup
    * .duplicatedSpans]] for BINARY: the fraction of a payload's
    * stride-aligned windows whose exact bytes occur >= minDf times
    * across the lake (a re-encoded mirror upload, a looped jingle, a
    * shared intro sting — the audio-side memorization-risk signal).
    * Duplication counts INSTANCES, not holders, so a segment looped
    * WITHIN one payload flags that payload too. Only full windows
    * compare (a tail shorter than the window can't byte-match one);
    * payloads shorter than one window are absent — out of scope like
    * sub-n-token docs in the span family.
    *
    * Scale: the df aggregate and the postings join ship 32-byte md5s of
    * window bytes, never the windows; the postings join carries only the
    * duplicated minority ([[Dedup.duplicateShare]], the fold x39 runs on
    * distinct spans). No decode anywhere — byte
    * equality is codec-independent by definition.
    * Output: doc_id, dup_chunks, total_chunks, dup_ratio (round 4). */
  def duplicateChunks(bin: DataFrame, windowBytes: Int, strideBytes: Int,
                      minDf: Int = 2): DataFrame =
    Dedup.duplicateShare(graft.Persist.cut(
      chunkBinary(bin, windowBytes, strideBytes)
        .filter(col("chunk_bytes") === windowBytes)
        .select(col("doc_id"), md5(col("chunk")).as("h"))), "chunks", minDf)

  /** Block FINGERPRINTS — the perceptual-hash shape on raw bytes: the
    * payload is cut into `blocks` equal byte ranges, each contributes
    * one parity bit (md5 of the block's bytes, first hex digit mod 2),
    * and the packed word is a structural fingerprint whose Hamming
    * distance counts DIFFERING REGIONS — the block-hash coarse
    * near-dup a media pipeline runs where a real pHash would decode
    * pixels (swap the stub bit for a DCT-sign bit and nothing else
    * changes: the fingerprint/banding/verify plumbing IS the
    * interface). A replacement edit (re-encode header, case-folded
    * mirror, watermark swap) flips only the touched blocks' bits;
    * insertions shift every block and are [[cdcChunks]]' job — the two
    * detectors are complements by construction.
    *
    * Scale shape: pure per-row expression work (`blocks` md5s over
    * substring views — the simhash per-token budget), no explode, no
    * shuffle; downstream pairing ships (id, fingerprint) longs only.
    * Block arithmetic is exact: offsets are floor(i·n/blocks) where the
    * product i·n is taken in LONG (overflow only beyond ~2^63/blocks
    * bytes — not a row) and only the division passes through double,
    * exact below 2^53. Empty payloads are absent. Output: doc_id,
    * fingerprint. */
  def blockFingerprints(bin: DataFrame, blocks: Int = 32): DataFrame = {
    require(blocks >= 2 && blocks <= 63, "blocks must fit a long with room")
    val nb = col("meta.n_bytes")
    def cut(i: Int): Column = floor(nb * lit(i.toLong) / lit(blocks)).cast("long")
    val fp = (0 until blocks).map { i =>
      val block = col("content").substr(cut(i) + lit(1L), cut(i + 1) - cut(i))
      val bit = conv(substring(md5(block), 1, 1), 16, 10).cast("long") % 2
      when(bit === 1L, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    bin.filter(nb > 0).select(col("doc_id"), fp.as("fingerprint"))
  }

  /** Block-structure near-dup pairs over [[blockFingerprints]], banded
    * through the SHARED pigeonhole core ([[graft.operators.Dedup
    * .pigeonholePairs]] — the x17/x20/x69 arithmetic, so the binary
    * family cannot drift from the text/embedding ones). Default 32
    * bits / Hamming ≤ 3 gives 4 bands of 8-bit keys: 256 buckets per
    * band, the x20 candidate-volume envelope. Output: (a_id, b_id,
    * hamming), a_id < b_id. */
  def blockNearDupPairs(bin: DataFrame, blocks: Int = 32,
                        maxHamming: Int = 3,
                        maxBucket: Int = Int.MaxValue): DataFrame =
    Dedup.pigeonholePairs(
      blockFingerprints(bin, blocks)
        .select(col("doc_id").as("id"), col("fingerprint")),
      blocks, maxHamming, maxBucket)

  /** Content-defined chunking (CDC) — the insertion-resilient binary
    * dedup cut a production media/backup pipeline uses instead of fixed
    * windows: a boundary falls wherever the fingerprint of the LAST
    * `window` bytes lands on 0 mod `mask`, so an insertion near the
    * start re-synchronizes within one window and every downstream chunk
    * hash still matches ([[chunkBinary]]'s fixed grid would shift every
    * chunk after the edit). Expected chunk size ≈ `mask` bytes;
    * `maxChunk` force-splits pathological cut droughts POST-HOC (a pure
    * per-segment computation, so it stays expression-level; a minimum
    * size would suppress cuts SEQUENTIALLY and is deliberately out of
    * scope). The default fingerprint is the top-60-bits-of-md5
    * discipline over the window bytes, computed by the codegen'd
    * [[graft.functions.expr.CdcCuts]] expression — one local pass per
    * payload returning the output-sized cut array, cut-for-cut identical
    * to the SQL formulation the oracle replays (parity spec-pinned).
    * `gear = true` swaps in the PRODUCTION fingerprint — the Gear
    * rolling hash (O(n) total vs O(n·window) digest bytes; resync
    * fuzz-pinned in spec) — for deployments where cross-engine oracle
    * replay is not the constraint; everything downstream of the cut
    * array is fingerprint-agnostic.
    *
    * Scale shape: NO per-byte rows and NO window shuffle — cuts arrive
    * as an array (~n_bytes/mask entries), segments are a narrow
    * zip-with-shifted-self, and only real chunk rows are ever exploded;
    * chunk hashes ship 32 bytes, content never shuffles. Payloads
    * shorter than one window emit a single whole-payload chunk via the
    * sentinel cut at 0. Output: doc_id, off_bytes (0-based),
    * chunk_bytes, h. */
  def cdcChunks(bin: DataFrame, window: Int = 8, mask: Int = 64,
                maxChunk: Int = 256, gear: Boolean = false): DataFrame = {
    require(window >= 1 && mask >= 2 && maxChunk >= 1, "degenerate CDC parameters")
    val base = bin.filter(col("meta.n_bytes") > 0)
      .select(col("doc_id"), col("content"), col("meta.n_bytes").as("__nb"))
    base
      .withColumn("__cuts",
        graft.GraftFunctions.cdcCuts(base, col("content"), window, mask, gear))
      // segment ends: the cut list shifted left by one, nb closing the last
      .withColumn("__ends", concat(
        slice(col("__cuts"), lit(2), size(col("__cuts")) - 1), array(col("__nb"))))
      .select(col("doc_id"), col("content"),
        explode(arrays_zip(col("__cuts"), col("__ends"))).as("__seg"))
      .select(col("doc_id"), col("content"),
        col("__seg.__cuts").as("cut"), col("__seg.__ends").as("__end"))
      .filter(col("__end") > col("cut"))
      .select(col("doc_id"), col("content"), col("__end"),
        explode(expr(s"sequence(cut, __end - 1, $maxChunk)")).as("off"))
      .select(col("doc_id"), col("off").as("off_bytes"),
        least(lit(maxChunk.toLong), col("__end") - col("off")).as("chunk_bytes"),
        md5(expr(s"substring(content, off + 1, least($maxChunk, __end - off))")).as("h"))
  }

  /** [[duplicateChunks]] on [[cdcChunks]]' cut grid — the dedup ratio
    * CDC exists to compute: because boundaries are content-defined, a
    * re-uploaded payload with a few inserted bytes still shares almost
    * every chunk hash with the original, so the ratio SEES the mirror
    * (the fixed grid's ratio collapses to ~0 after one insertion).
    * Instance counting, shared discipline and output shape with
    * duplicateChunks: doc_id, dup_chunks, total_chunks, dup_ratio. */
  def cdcDuplicateStats(bin: DataFrame, window: Int = 8, mask: Int = 64,
                        maxChunk: Int = 256, minDf: Int = 2): DataFrame =
    cdcDuplicateStatsFromChunks(graft.Persist.cut(
      cdcChunks(bin, window, mask, maxChunk).select(col("doc_id"), col("h"))),
      minDf)

  /** [[cdcDuplicateStats]] over a PRECOMPUTED (doc_id, h) chunk table —
    * the shared core that lets the incremental runner fold additive
    * per-batch chunk-hash partials (32-byte hashes, content chunked
    * exactly once ever) and publish the identical report shape. */
  def cdcDuplicateStatsFromChunks(ch: DataFrame, minDf: Int = 2): DataFrame =
    Dedup.duplicateShare(ch, "chunks", minDf)
}
