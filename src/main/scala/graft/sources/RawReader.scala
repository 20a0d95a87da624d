package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schemas.Schemas

/** S4-S8: day-partitioned multiLine-JSON ingest with corrupt-file
  * quarantine.
  *
  * Replaces the reference's driver-side GCS listing + one-Beam-branch-per-
  * file antipattern (1_run_main_table_pipeline.py:27-53, 119-131; SURVEY
  * §4.2 #1-2) with ONE distributed glob scan: Spark lists and splits files
  * on executors, and `pathGlobFilter` reproduces the "*.json but never
  * *metadata*" predicate (P1:39-40) at the source instead of in driver
  * Python.
  *
  * Corrupt handling mirrors P1:67-68: a file that fails to parse must not
  * kill the batch — PERMISSIVE mode routes it to `_corrupt_record`, and
  * [[quarantine]] splits good rows from quarantined ones so the run report
  * can count failures (S3's sidecar metadata semantics).
  */
object RawReader {

  /** Read every day-file under `path` (recursively), excluding metadata
    * sidecars. Explicit schema — never inferSchema in production (SURVEY
    * §1.3): inference would re-read 100 TB just to guess what P1:95-116
    * already declares. */
  def readOrders(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("multiLine", true) // one JSON ARRAY per day-file (app.py:128)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("pathGlobFilter", "*.json")
      .option("recursiveFileLookup", true)
      .schema(Schemas.rawOrderWithCorrupt)
      .json(path)
      // S5 (P1:39-40): the reference predicate tests the FILE NAME only —
      // matching the whole URI would drop every file under a directory
      // that happens to contain "metadata" in its path
      .filter(!element_at(split(input_file_name(), "/"), -1).contains("metadata"))
      // materialized at scan time: input_file_name() is empty once the
      // frame is cached (provenance doesn't survive InMemoryRelation)
      .withColumn("source_file", input_file_name())

  /** Split (good, quarantined). Good rows drop the corrupt column; the
    * quarantine side keeps the raw payload + source file for triage.
    *
    * The parsed frame is cached first — Spark refuses corrupt-column-only
    * queries on a raw JSON scan, and caching is what we want regardless:
    * the reference re-reads+re-parses the same raw JSON five times
    * (SURVEY §4.2 #3); here it parses ONCE and every downstream
    * derivation (flatten + 4 explodes + quarantine report) reuses it. */
  def quarantine(raw: DataFrame): (DataFrame, DataFrame) = {
    val cached = graft.Persist.hot(raw)
    val bad = cached.filter(col("_corrupt_record").isNotNull)
      .select(col("source_file"), col("_corrupt_record"))
    val good = cached.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record", "source_file")
    (good, bad)
  }
}
