package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Schema-enforced JSON-lake ingestion — the reference's landing zone is
  * scraper JSON in object storage read with an explicit schema
  * (/root/reference/spark_pipeline/transform_job.py:168-178); this is
  * the same contract done the Spark-native way:
  *
  *  - explicit `StructType` (never inferSchema: inference is a full
  *    extra pass over 100 TB and is non-deterministic across runs),
  *  - PERMISSIVE mode with a `_corrupt_record` column so malformed rows
  *    are quarantined instead of killing the job or silently vanishing,
  *  - line-delimited JSON (splittable → partition-parallel reads; a
  *    multiline JSON array is one unsplittable blob per file).
  */
object JsonLake {

  val CorruptCol = "_corrupt_record"

  /** The landing-reader contract every lake reader applies, batch or
    * streaming: the enforced schema plus [[CorruptCol]], read with
    * [[Permissive]] so a malformed record lands in that column.
    */
  def landingSchema(schema: StructType): StructType =
    schema.add(StructField(CorruptCol, StringType, nullable = true))

  val Permissive: Map[String, String] = Map(
    "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)

  /** Read line-delimited JSON with an enforced schema; malformed lines
    * land in [[CorruptCol]], well-formed rows get it null.
    */
  def readJson(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(landingSchema(schema)).options(Permissive).json(path)

  /** Compat reader for the reference's ACTUAL legacy lake layout:
    * multi-line JSON ARRAYS, one array per scrape file
    * (transform_job.py:111 `option("multiLine", True)`). Each file is
    * one unsplittable blob — one task per file, no intra-file
    * parallelism — so this exists for migrating the legacy layout;
    * new data should land as NDJSON ([[readJson]]) which splits.
    * Malformed array files still quarantine via [[CorruptCol]].
    */
  def readJsonArray(s: SparkSession, path: String,
      schema: StructType): DataFrame =
    s.read.schema(landingSchema(schema)).options(Permissive)
      .option("multiLine", value = true)
      .json(path)

  /** CSV landing-zone reader with the same contract as [[readJson]]:
    * explicit schema (no inference pass), PERMISSIVE parse with
    * malformed lines quarantined into [[CorruptCol]]. CSV is the other
    * format scraped/exported feeds actually arrive in; uncompressed
    * CSV splits by line like NDJSON, so reads stay
    * partition-parallel. Header handling is explicit — a header row
    * would otherwise arrive as a (quarantined) data row on every one
    * of a million files.
    */
  def readCsv(s: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    s.read.schema(landingSchema(schema)).options(Permissive)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  /** Split an ingested frame into (clean, quarantined) — the reference
    * drops rows missing required fields (transform_job.py:193-195);
    * quarantining instead keeps the audit trail a production lake needs.
    *
    * Caches `df`: the caller unpersists it after the splits' last
    * reader ([[graft.operators.Pipeline.withOffers]] does).
    */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) = {
    // Spark refuses to evaluate a predicate on ONLY the corrupt-record
    // column of a raw file scan (the parser would need a second pass);
    // the documented contract is to materialize first.
    val raw = df.cache()
    val clean = raw.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val bad = raw.filter(col(CorruptCol).isNotNull)
    (clean, bad)
  }
}
