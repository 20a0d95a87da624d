package graft.flatten

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.schemas.Schemas

/** T1-T6: the reference's `procesar_orden` flatten
  * (extract-ceo-app-repository/extract-app/app.py:37-98) as ONE narrow
  * `select` — ~100 nested fields to a flat row, `""`→null normalization,
  * defaults, date re-formatting, digit-strip cleaning, and (at the sink
  * boundary only) the 8 nested arrays re-serialized to JSON strings.
  *
  * Everything is built-in Column expressions: the whole flatten stays in
  * one WholeStageCodegen span over the scan — the Spark answer to the
  * reference's dict-at-a-time Python DoFn.
  */
object OrderFlatten {

  /** `v in [None, ""] → None` (app.py:38-54's normalization). */
  def emptyToNull(c: Column): Column = when(c === "", lit(null)).otherwise(c)

  /** T4 (app.py:17-25): lenient parse → 'yyyy-MM-dd HH:mm:ss', invalid→null. */
  def fmtDatetime(c: Column): Column =
    date_format(try_to_timestamp(c), "yyyy-MM-dd HH:mm:ss")

  /** T5 (app.py:27-35): lenient parse → 'yyyy-MM-dd', invalid→null. */
  def fmtDate(c: Column): Column =
    date_format(try_to_timestamp(c), "yyyy-MM-dd")

  /** T2 (app.py:42): strip all digit characters. */
  def stripDigits(c: Column): Column = regexp_replace(c, "[0-9]", "")

  /** The structure ids whose orders get polygon enrichment (app.py:58). */
  val enrichedStructureIds: Seq[Long] = Seq(13123L, 13120L, 13101L)

  /** T1: flatten a raw order frame (Schemas.rawOrder) to the master-staging
    * shape. Nested arrays stay native ArrayType here (SURVEY §1.2) — they
    * are only stringified at the sink via [[toMasterSink]]. */
  def flatten(raw: DataFrame): DataFrame =
    raw.select(
      emptyToNull(col("delivery_order_id")).as("delivery_order_id"),
      // default ''  (app.py:73)
      coalesce(col("code"), lit("")).as("code"),
      // default False (app.py:74)
      coalesce(col("recycling"), lit(false)).as("recycling"),
      emptyToNull(col("assigned_courier")).as("assigned_courier"),
      emptyToNull(stripDigits(col("size_box"))).as("size_box"),
      emptyToNull(col("cross_docking_location_code")).as("cross_docking_location_code"),
      col("delivery_attemps"),
      fmtDate(col("promised_date")).as("promised_date"),
      fmtDatetime(col("created_date")).as("created_date"),
      emptyToNull(col("destination.geo_coding")).as("destination_geo_coding"),
      col("destination.geo_location.lon").as("destination_geo_location_lon"),
      col("destination.geo_location.lat").as("destination_geo_location_lat"),
      emptyToNull(col("destination.local")).as("destination_local"),
      col("destination.not_located").as("destination_not_located"),
      emptyToNull(col("destination.number")).as("destination_number"),
      emptyToNull(col("destination.street")).as("destination_street"),
      col("destination.structure_id").as("destination_structure_id"),
      col("destination.polygon").as("destination_polygon"),
      col("events_info_json"),
      col("schedule_events_info_json"),
      col("reschedule_events_info_json"),
      col("packages_json"),
      col("changes_info_json"),
      col("items_json"),
      col("extended_info_documents"),
      col("statuses"))

  /** T3 (app.py:56-65): polygon-lab enrichment. The reference POSTs
    * (lat, lon, structure_id) per row to an external service; at 100 TB
    * per-row HTTP is forbidden (SURVEY §4.2 #6), so the point-in-polygon
    * answer is modeled as a precomputed lookup `(structure_id, polygon,
    * segmentation)` broadcast-joined in. Only the three enriched structure
    * ids ever receive a value (documented deviation, SURVEY §7.4). */
  def enrichPolygonLab(flat: DataFrame, polygonLookup: DataFrame): DataFrame = {
    val lk = polygonLookup.select(
      col("structure_id").as("__lk_sid"), col("polygon").as("__lk_poly"),
      col("segmentation").as("__lk_seg"))
    flat.join(broadcast(lk),
        col("destination_structure_id") === col("__lk_sid") &&
          col("destination_polygon") === col("__lk_poly") &&
          col("destination_structure_id").isin(enrichedStructureIds: _*),
        "left_outer")
      .withColumn("destination_polygon_lab", col("__lk_seg"))
      .drop("__lk_sid", "__lk_poly", "__lk_seg")
  }

  /** T6 (P1:59-66): serialize the 8 nested-array fields to JSON strings —
    * the master table's on-disk parity shape. Null arrays stay null
    * (`json.dumps` is only applied when the value is present). One
    * projection for all eight; each column keeps its position. */
  def toMasterSink(flat: DataFrame): DataFrame =
    flat.withColumns(Schemas.jsonStringFields.map(f =>
      f -> when(col(f).isNotNull, to_json(col(f)))).toMap)

  /** One polygon-lab resolution: (structureId, polygon) => segmentation,
    * None when the service has no answer. Mirrors the reference's per-order
    * POST (app.py:56-65); injected as a function so tests (and this
    * egress-less container) stub it — the [[graft.sources.Extract]]
    * transport discipline. Must be Serializable (ships to executors). */
  type ResolveSegmentation = ((Long, String)) => Option[String]

  /** T3 with the reference's ONLINE fallback (SURVEY §7.4): rows the
    * precomputed broadcast lookup misses are resolved by calling the
    * polygon service — but NEVER per row. The reference POSTs once per
    * order (app.py:56-65); at 100 TB that is billions of HTTP calls for a
    * dimension whose true cardinality is |distinct (structure_id,
    * polygon)| — so the fallback (1) collapses misses to DISTINCT keys
    * first, (2) resolves them in a rate-limited `mapPartitions` over a
    * deliberately SMALL number of partitions (global rate = rps ×
    * partitions, both conf knobs), and (3) broadcast-joins the resolved
    * dim back. Network stays a key-cardinality cost, not a row cost.
    *
    * Retry discipline is Extract's: `maxRetries` attempts per key, then
    * give-up-and-record (the key resolves to null and the row stays
    * unenriched — exactly what the reference's except-branch does).
    * `mapPartitions` here is a transport boundary (an external service
    * call), the same legitimacy class as the Multimodal batch decoder —
    * not expressible as a Catalyst expression by design.
    *
    * Conf: spark.graft.polygon.fallback.rps (default 10 calls/sec per
    * partition), .partitions (default 1), .retries (default 3 =
    * Extract.maxRetries). */
  def enrichPolygonLabWithFallback(flat: DataFrame, polygonLookup: DataFrame,
                                   resolve: ResolveSegmentation): DataFrame = {
    val spark = flat.sparkSession
    import spark.implicits._
    val rps = spark.conf.get("spark.graft.polygon.fallback.rps", "10").toDouble
    val parts = spark.conf.get("spark.graft.polygon.fallback.partitions", "1").toInt
    val retries = spark.conf.get("spark.graft.polygon.fallback.retries",
      graft.sources.Extract.maxRetries.toString).toInt
    require(rps > 0 && parts > 0 && retries > 0, "fallback knobs must be positive")
    val enriched = enrichPolygonLab(flat, polygonLookup)
    val missing = enriched
      .filter(col("destination_polygon_lab").isNull &&
        col("destination_structure_id").isin(enrichedStructureIds: _*) &&
        col("destination_polygon").isNotNull)
      .select(col("destination_structure_id").cast("long"),
        col("destination_polygon").cast("string"))
      .distinct()
      .coalesce(parts)
    val minIntervalNs = (1e9 / rps).toLong
    val resolved = missing.as[(Long, String)].mapPartitions { it =>
      var nextAllowed = 0L
      it.map { case (sid, poly) =>
        val wait = nextAllowed - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        nextAllowed = System.nanoTime() + minIntervalNs
        var attempt = 0
        var seg: Option[String] = None
        var ok = false
        while (attempt < retries && !ok) {
          attempt += 1
          try { seg = resolve((sid, poly)); ok = true }
          catch { case scala.util.control.NonFatal(_) => } // retry, then record
        }
        (sid, poly, seg)
      }
    }.toDF("__fb_sid", "__fb_poly", "__fb_seg")
    // pin the HTTP resolution pass: without a cut, every action on the
    // returned frame (count-then-write, stage retry) would re-fire the
    // whole rate-limited resolution — doubling network cost and risking
    // inconsistent enrichment if the service's answers drift mid-run
    val resolvedDim = graft.Persist.cut(resolved)
    // miss keys are disjoint from lookup hits (the lookup join matched on
    // the same (sid, poly) equality), so the coalesce can never overwrite
    // an already-enriched value
    enriched
      .join(broadcast(resolvedDim.filter(col("__fb_seg").isNotNull)),
        col("destination_structure_id").cast("long") === col("__fb_sid") &&
          // the key frame stringified the polygon (a stable resolver key
          // whatever the source type); compare through the same cast
          col("destination_polygon").cast("string") === col("__fb_poly"),
        "left_outer")
      .withColumn("destination_polygon_lab",
        coalesce(col("destination_polygon_lab"), col("__fb_seg")))
      .drop("__fb_sid", "__fb_poly", "__fb_seg")
  }

  /** Production [[ResolveSegmentation]] over `java.net.http`: POSTs the
    * reference's per-order body (app.py:56-65) and reads the
    * `segmentation` field; non-2xx and malformed responses THROW so the
    * caller's retry/give-up policy applies — transport only, no policy
    * (the [[graft.sources.Extract.httpFetchPage]] contract). A 404 maps
    * to None (the service knows the key and has no polygon for it).
    * The reference gates on the response's `contained` flag
    * (app.py:63-65: segmentation is used only when contained is truthy)
    * — an uncontained answer maps to None, never an enrichment.
    * Client and mapper build lazily PER EXECUTOR ([[transient]] — the
    * resolver ships serialized into the mapPartitions closure). */
  final case class HttpSegmentationResolver(
      endpoint: String, headers: Map[String, String] = Map.empty)
      extends ResolveSegmentation {
    @transient private lazy val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(30)).build()
    @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def apply(key: (Long, String)): Option[String] = {
      val (sid, poly) = key
      val body = s"""{"structure_id":$sid,"polygon":${mapper.writeValueAsString(poly)}}"""
      val req = headers.foldLeft(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
          .timeout(java.time.Duration.ofSeconds(120))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))) {
        case (b, (k, v)) => b.header(k, v)
      }.build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() == 404) None
      else {
        require(resp.statusCode() / 100 == 2, s"HTTP ${resp.statusCode()} for ($sid, $poly)")
        val root = mapper.readTree(resp.body())
        val seg = root.path("segmentation")
        // contained falsy (false / missing / non-boolean) => no enrichment
        if (root.path("contained").asBoolean(false) && seg.isTextual)
          Some(seg.asText())
        else None
      }
    }
  }
}
