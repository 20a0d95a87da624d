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
}
