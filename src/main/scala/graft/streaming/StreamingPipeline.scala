package graft.streaming

import graft.operators.{DataQuality, Pipeline, SkillExtract}
import graft.sources.{JsonLake, ManifestLog, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's INCREMENTAL load path as a stream: scraper JSON
  * lands in the lake, each micro-batch cleans + enriches and upserts
  * the warehouse — dimensions via get-or-create ([[Warehouse.upsertDim]]
  * — ids are stable across batches, exactly like the reference's
  * Postgres serials), facts appended. The file source + checkpoint give
  * exactly-once file processing, so re-running after a crash neither
  * drops nor duplicates a scrape (the property the reference's
  * Celery-retry + row-INSERT flow approximates with PK conflicts).
  *
  * Batch `Pipeline.run` stays the rebuild path; this is the tailing
  * path a production lake runs continuously. Both load the one star
  * definition in [[Pipeline]], which also lists the differences between
  * them kept on purpose. Cross-batch offer dedup is the streaming dedup
  * operator's job ([[Streaming.dedupStream]] shape) — within a batch,
  * `Pipeline.clean` dedups by job_url.
  */
object StreamingPipeline {

  /** Drain what exists under `lakeDir` through the landing-reader
    * contract into `sink`, one call per micro-batch, and stop
    * (AvailableNow; rerun with the same checkpoint to pick up only NEW
    * files).
    */
  private def drain(s: SparkSession, lakeDir: String, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    s.readStream.schema(JsonLake.landingSchema(Pipeline.offerSchema))
      .options(JsonLake.Permissive)
      .json(lakeDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Start the incremental loader over `lakeDir`. */
  def start(s: SparkSession, lakeDir: String, outDir: String,
      checkpoint: String): StreamingQuery =
    drain(s, lakeDir, checkpoint)((batch, batchId) =>
      loadBatch(batch, outDir, batchId))

  /** Post-clean invariants the pipeline itself must uphold: a
    * violation means a pipeline regression, not bad input (bad input is
    * the quarantine's job), so the gate refuses to publish the batch.
    */
  private[streaming] def offerChecks
      : Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "job_url_not_null" -> count(when(col("job_url").isNull, 1)),
    "job_url_unique" -> (count(col("job_url")) -
      countDistinct(col("job_url"))),
    "titre_not_null" -> count(when(col("titre").isNull, 1)))

  /** Load one micro-batch of raw offers into the warehouse: the full
    * star — six get-or-create dims, the skill dim + bridge, fact and
    * quarantine appends. Also the REBUILD path's incremental sibling:
    * callable on any static frame for backfill chunks.
    *
    * Every batch is CONSTRAINT-GATED (the Deequ pattern,
    * [[DataQuality.constraintSuite]]): the expectation report is always
    * appended to `load_audit`; if any expectation fails, the batch is
    * diverted to `rejected_batches` and the warehouse is NOT touched —
    * fail the load, never publish a corrupt snapshot.
    */
  def loadBatch(batch: DataFrame, outDir: String, batchId: Long = -1L,
      checks: Seq[(String, org.apache.spark.sql.Column)] = offerChecks)
      : Unit = Pipeline.withOffers(batch) { (offers, bad) =>
    val gate = DataQuality.constraintSuite(offers, checks)
      .withColumn("batch_id", lit(batchId))
    gate.write.mode("append").parquet(s"$outDir/load_audit")
    if (gate.filter(!col("passed")).limit(1).count() > 0)
      offers.write.mode("append").parquet(s"$outDir/rejected_batches")
    else {
      val dims = Pipeline.factDims.map(d => Warehouse.upsertDim(
        offers.select(d.key.as("value")),
        s"$outDir/${d.table}", d.id))
      Pipeline.facts(offers, dims)
        .write.mode("append").parquet(s"$outDir/fact_offre")
      val links = Pipeline.offerSkills(offers,
        SkillExtract.vocabDf(batch.sparkSession))
      val dSkill = Warehouse.upsertDim(
        links.select(col("nom"), col("type_skill")),
        s"$outDir/dim_skill", "id_skill")
      Pipeline.bridge(links, dSkill)
        .write.mode("append").parquet(s"$outDir/offre_skill")
    }
    bad.write.mode("append").json(s"$outDir/quarantine")
  }

  /** Drain all currently-available lake files and stop. */
  def runOnce(s: SparkSession, lakeDir: String, outDir: String,
      checkpoint: String): Unit = {
    val q = start(s, lakeDir, outDir, checkpoint)
    q.awaitTermination()
  }

  /** The scalar projection of a cleaned offer batch that a JDBC
    * warehouse can hold (arrays stay in the lake; the bridge table is
    * the relational form of competences).
    */
  private[streaming] def jdbcOfferCols(offers: DataFrame): DataFrame =
    offers.select(col("job_url"), col("via"), col("titre_homogene"),
      col("pub_date"), col("secteur"), col("niveau_qualification"))

  /** The reference's Postgres load as a STREAMING sink: each
    * micro-batch cleans + enriches and publishes to the JDBC warehouse
    * through [[Warehouse.publishJdbcIdempotent]] — batch-id-keyed, so
    * the checkpointed replay of a crashed batch retracts its partial
    * rows before re-appending and the warehouse never holds duplicates
    * (spec drives two batches plus a replay). (round 5)
    */
  def startJdbcPublish(s: SparkSession, lakeDir: String, url: String,
      table: String, checkpoint: String,
      props: java.util.Properties): StreamingQuery =
    drain(s, lakeDir, checkpoint)((batch, batchId) =>
      Pipeline.withOffers(batch)((offers, _) =>
        Warehouse.publishJdbcIdempotent(
          jdbcOfferCols(offers), url, table, batchId, props)))

  /** Drain all currently-available lake files into the JDBC warehouse
    * and stop (rerun with the same checkpoint to publish only NEW
    * files).
    */
  def runOnceJdbc(s: SparkSession, lakeDir: String, url: String,
      table: String, checkpoint: String,
      props: java.util.Properties): Unit =
    startJdbcPublish(s, lakeDir, url, table, checkpoint, props)
      .awaitTermination()

  /** Streaming publish into the NATIVE table format — the Delta/Iceberg
    * streaming-sink shape over [[graft.sources.ManifestLog]]: each
    * micro-batch cleans + enriches and lands as one manifest commit via
    * [[graft.sources.ManifestLog.commitIdempotent]], keyed by the
    * checkpoint's batchId — a replayed batch finds itself in the log
    * and commits nothing, so the table holds each batch exactly once
    * and every committed version is a consistent snapshot readers can
    * time-travel to. The clustering key is xxhash64(job_url) (the
    * natural key is a string; the manifest tracks BIGINT bounds), so
    * file skipping works for key-probe reads. (round 5)
    */
  def startManifestPublish(s: SparkSession, lakeDir: String,
      tablePath: String, checkpoint: String): StreamingQuery =
    drain(s, lakeDir, checkpoint)((batch, batchId) =>
      Pipeline.withOffers(batch) { (offers, _) =>
        ManifestLog.commitIdempotent(jdbcOfferCols(offers)
          .withColumn("offer_key", xxhash64(col("job_url"))),
          tablePath, "offer_key", batchId)
        ()
      })

  /** Drain all currently-available lake files into the manifest table
    * and stop.
    */
  def runOnceManifest(s: SparkSession, lakeDir: String, tablePath: String,
      checkpoint: String): Unit =
    startManifestPublish(s, lakeDir, tablePath, checkpoint)
      .awaitTermination()
}
