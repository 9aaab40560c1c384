package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import graft.functions.Nums._
import graft.sources.{JsonLake, Warehouse}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's whole production flow as ONE composable, data-driven
  * pipeline over arbitrary job-offer frames (not bound to the testdata
  * tables): scraper JSON lake -> schema-enforced ingest + quarantine ->
  * cleaning -> skill phrase-match -> deterministic enrichment ->
  * star-schema build -> partition-aligned warehouse write.
  *
  * Reference mapping: celery DAG (/root/reference/celery_app) ordering
  * scrape -> transform (spark_pipeline/transform_job.py) -> skillner ->
  * LLM enrich -> insert_to_postgres.py. Every stage is a pure
  * DataFrame -> DataFrame function, so the DAG is function composition
  * (e.g. the cleaning filter pushes into the JSON scan). Each load
  * then materializes, once, the three frames that feed many writes —
  * the enriched offers, their skill links and the numbered dims — at
  * [[materializing]], so no write replays the scan, the dedup
  * window or the numbering.
  *
  * Each load runs as a small dependency graph of steps ([[inSteps]]): a
  * checkpoint, a dim read, a write or a count starts as soon as the
  * steps it reads are done, so independent Spark jobs overlap. A step
  * waits only on its data inputs, with two exceptions:
  *  - no warehouse append happens before the quality gate's verdict
  *    (only the increment has a gate:
  *    [[graft.streaming.StreamingPipeline.loadBatch]]);
  *  - no `fact_offre` or `offre_skill` row is written before every dim
  *    of the load is written, so a load that fails part-way never
  *    leaves a fact or a skill link pointing at a missing dim row.
  * The rebuild: the offers' checkpoint; then, beside each other, the raw
  * and offers counts, the quarantine, `dim_date` and the skill links;
  * the numbering once the links are done; the seven numbered dims
  * together; then `fact_offre` beside `offre_skill`. The increment: the
  * seven dim reads beside the offers' checkpoint; the gate beside the
  * skill links; then `load_audit`, the quarantine, the numbering, the
  * dim appends and `fact_offre` beside `offre_skill`, each as soon as
  * its inputs are ready.
  *
  * The star load is defined once, here, for both loaders: the rebuild
  * ([[run]]) and the increment
  * ([[graft.streaming.StreamingPipeline.loadBatch]]) share the prefix
  * ([[withOffers]]), the seven get-or-create dims' rows stacked in one
  * frame ([[stackedDims]], [[dimTables]]) and numbered in one exchange
  * ([[Warehouse.numberDims]]), the fact join and projection ([[facts]])
  * and the skill bridge ([[bridge]]). They differ only in where the
  * numbering starts — from 1 here, after each stored dim's max id there
  * ([[Warehouse.upsertDims]]) — and in overwriting versus appending.
  * Differences kept on purpose (the benchmark's
  * ground truth pins each):
  *  - an offer without a parseable date: the rebuild leaves it out of
  *    the `ym`-partitioned `fact_offre`, an increment appends it with a
  *    null `pub_date` and `ym`; the reference points it at the
  *    [[SentinelDate]] row (insert_to_postgres.py:10);
  *  - `dd MMM-HH:mm` publication dates stay unparsed (null `pub_date`);
  *  - `dim_compagnie`'s `secteur` attribute comes only from rebuilds.
  */
object Pipeline {

  /** Landing-zone schema for scraped offers — the reference's
    * global_schema (transform_job.py:15-38) including the nested
    * NER-output skills struct.
    */
  val offerSchema: StructType = StructType(Seq(
    StructField("job_url", StringType),
    StructField("titre", StringType),
    StructField("via", StringType),
    StructField("publication_date", StringType),
    StructField("description", StringType),
    StructField("competences", StringType),
    StructField("contrat", StringType),
    StructField("companie", StringType),
    StructField("secteur", StringType),
    StructField("niveau_etudes", StringType),
    StructField("niveau_experience", StringType),
    StructField("skills", StructType(Seq(
      StructField("hard_skills", ArrayType(StringType)),
      StructField("soft_skills", ArrayType(StringType)))))))

  /** The reference's flatten_skills_udf (transform_job.py:145-175) —
    * `{hard_skills: [...], soft_skills: [...]}` to
    * `array<struct{nom, type_skill}>` — as pure array functions: no
    * UDF, no Python worker round-trip, fully codegen-able.
    */
  def flatSkills: org.apache.spark.sql.Column = {
    def typed(arr: org.apache.spark.sql.Column, t: String) =
      transform(
        filter(coalesce(arr, array().cast("array<string>")),
          n => n.isNotNull && trim(n) =!= ""),
        n => struct(lower(trim(n)).as("nom"), lit(t).as("type_skill")))
    concat(typed(col("skills.hard_skills"), "hard"),
      typed(col("skills.soft_skills"), "soft"))
  }

  /** Cleaning stage (clean_data): required business keys present,
    * deterministic dedup by job_url (earliest publication wins),
    * multi-format date normalization, domain defaulting.
    */
  def clean(offers: DataFrame): DataFrame = {
    val required = Seq("job_url", "titre", "via")
      .map(c => col(c).isNotNull && trim(col(c)) =!= "")
      .reduce(_ && _)
    val w = Window.partitionBy(col("job_url"))
      .orderBy(col("pub_date").asc_nulls_last, col("titre"))
    offers
      .filter(required)
      .withColumn("pub_date",
        // try_to_date: unparseable dates become NULL instead of an ANSI
        // runtime error (the reference's strptime-chain fallback)
        coalesce(
          expr("try_to_date(publication_date, 'yyyy-MM-dd')"),
          expr("try_to_date(publication_date, 'dd/MM/yyyy')")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "publication_date")
      // comma-list secteur -> array (transform_job.py:216), trims, and
      // 'Unspecified' domain defaulting (transform_job.py:231)
      .withColumn("secteurs",
        filter(split(coalesce(col("secteur"), lit("")), ",\\s*"),
          x => trim(x) =!= ""))
      .withColumn("compagnie",
        coalesce(nullif(trim(col("companie")), lit("")), lit("Unspecified")))
      .withColumn("contrat",
        coalesce(nullif(trim(col("contrat")), lit("")), lit("Unspecified")))
      .withColumn("niveau_etudes",
        coalesce(nullif(trim(col("niveau_etudes")), lit("")), lit("Unspecified")))
      .withColumn("niveau_experience",
        coalesce(nullif(trim(col("niveau_experience")), lit("")), lit("Unspecified")))
      .withColumn("skills_flat", flatSkills)
  }

  /** Skill stage: the reference gets skills from BOTH the NER payload
    * (skills struct, flattened) and skillner's phrase matching; the
    * union feeds the skill dimension and bridge. Phrase matching is a
    * broadcast-vocabulary equi-join over [[SkillExtract.terms]].
    */
  def offerSkills(offers: DataFrame, vocab: DataFrame): DataFrame = {
    val toks = filter(split(lower(col("description")), "\\s+"), t => t =!= lit(""))
    val matched = offers
      .select(col("job_url"), explode(SkillExtract.terms(toks)).as("term"))
      .join(broadcast(vocab), col("term") === vocab("skill"))
      .select(col("job_url"), col("skill").as("nom"),
        col("skill_type").as("type_skill"))
    val payload = offers
      .select(col("job_url"), explode(col("skills_flat")).as("sk"))
      .select(col("job_url"), col("sk.nom").as("nom"),
        col("sk.type_skill").as("type_skill"))
    matched.unionByName(payload).distinct()
  }

  /** Enrichment stage (Groq pipeline, deterministic re-expression of
    * its fallback-profile rules, init_groq.py:164-228): title
    * homogenization, sector classification, qualification ordinal,
    * plus the reference's contract and experience canonicalization.
    * Deviation from the reference, documented: its fallback forces
    * unknown contracts to "CDI" and unknown experience to "senior" —
    * that fabricates data, so unrecognized values stay "Unspecified"
    * here (the transform_job fillna domain).
    */
  def enrich(offers: DataFrame): DataFrame =
    offers
      .withColumn("titre_homogene",
        trim(regexp_replace(
          regexp_replace(lower(col("titre")), "[^a-z ]", " "), " +", " ")))
      .withColumn("secteur",
        when(lower(col("description")).contains("data"), "Data")
          .when(lower(col("description")).contains("vente"), "Commerce")
          .when(lower(col("description")).contains("cloud"), "IT")
          .otherwise("Autre"))
      .withColumn("niveau_qualification",
        when(col("niveau_etudes").contains("Doctorat"), 5)
          .when(col("niveau_etudes").contains("Master"), 4)
          .when(col("niveau_etudes").contains("Licence"), 3)
          .when(col("niveau_etudes").contains("Bac"), 2)
          .otherwise(1))
      // contract canonicalization (init_groq.py:185-195)
      .withColumn("contrat",
        when(lower(col("contrat")).contains("cdi"), "CDI")
          .when(lower(col("contrat")).contains("cdd"), "CDD")
          .when(lower(col("contrat")).contains("freelance"), "Freelance")
          .when(lower(col("contrat")).contains("stage"), "Stage")
          .otherwise(col("contrat")))
      // experience canonicalization (init_groq.py:198-205; the
      // reference checks the expert list FIRST, so "senior" => expert)
      .withColumn("niveau_experience",
        when(lower(col("niveau_experience"))
          .rlike("5 ans|10 ans|senior|expert"), "expert")
          .when(lower(col("niveau_experience"))
            .rlike("junior|débutant|1 an|2 ans"), "junior")
          .when(col("niveau_experience") === "Unspecified", "Unspecified")
          .otherwise("senior"))

  /** A dim's natural key as both loaders store and join it. */
  private def naturalKey(natural: String): Column = lower(trim(col(natural)))

  /** A get-or-create dimension as distinct + dense surrogate keys: the
    * one-dim case of the stacked numbering both loaders use
    * ([[Warehouse.numberDims]]).
    */
  def dim(df: DataFrame, natural: String, idCol: String): DataFrame =
    Warehouse.numberDims(df.select(lit(idCol).as("dim"), naturalKey(natural).as("value")),
      Seq("value"), None).select(col("value"), col("id").as(idCol))

  /** One dimension `fact_offre` references: the offer column it is
    * keyed on, its table, and its surrogate id column.
    */
  final case class FactDim(natural: String, table: String, id: String) {
    def key: Column = naturalKey(natural)
  }

  /** The six fact dims, in the order [[facts]] takes them. */
  val factDims: Seq[FactDim] = Seq(
    FactDim("via", "dim_source", "id_source"),
    FactDim("contrat", "dim_contrat", "id_contrat"),
    FactDim("titre_homogene", "dim_titre", "id_titre"),
    FactDim("compagnie", "dim_compagnie", "id_compagnie"),
    FactDim("niveau_etudes", "dim_niveau_etudes", "id_niveau_etudes"),
    FactDim("niveau_experience", "dim_niveau_experience",
      "id_niveau_experience"))

  /** `offers` as `fact_offre` rows: each of [[factDims]] resolved to its
    * surrogate id by a broadcast join against `dims` (one frame per fact
    * dim, in that order, each exactly `value` and the id column), then the
    * fact projection — ids, the payload columns (schema.sql:78-80) and
    * the `ym` month key (null when the offer has no parseable date).
    */
  def facts(offers: DataFrame, dims: Seq[DataFrame]): DataFrame =
    factDims.zip(dims).foldLeft(offers) { case (df, (d, keys)) =>
      df.join(broadcast(keys), d.key === keys("value"))
    }.select(Seq(col("job_url"), col("pub_date")) ++
      factDims.map(d => col(d.id)) ++
      Seq(col("description"), col("competences"), col("secteur"),
        col("niveau_qualification"),
        (year(col("pub_date")) * 100 + month(col("pub_date"))).as("ym")): _*)

  /** The `offre_skill` bridge: each skill link resolved to its id in
    * `dSkill`.
    */
  def bridge(links: DataFrame, dSkill: DataFrame): DataFrame =
    links.join(broadcast(dSkill), Seq("nom", "type_skill"))
      .select(col("job_url"), col("id_skill")).distinct()

  /** The stacked value columns of a load's dims: a fact dim's key is
    * its `value`, a skill's its (`value` = nom, `type_skill`). */
  private[graft] val DimValueCols = Seq("value", "type_skill")

  /** The rows of the seven get-or-create dims of one load, stacked and
    * NOT deduplicated: the [[factDims]] over `offers`, then `dim_skill`
    * over `links`. [[Warehouse.numberDims]] groups them and takes a
    * company's `secteur` (schema.sql:36-41) as its min over its offers —
    * a deterministic stand-in for the reference's first-insert-wins.
    */
  private[graft] def stackedDims(offers: DataFrame, links: DataFrame): DataFrame = {
    val none = lit(null).cast(StringType)
    factDims.map(d => offers.select(lit(d.table).as("dim"), d.key.as("value"),
        none.as("type_skill"),
        (if (d.table == "dim_compagnie") col("secteur") else none).as("secteur")))
      .reduce(_ unionByName _)
      .unionByName(links.select(lit("dim_skill").as("dim"),
        col("nom").as("value"), col("type_skill"), none.as("secteur")))
  }

  /** The tables of [[stackedDims]] under `outDir`, in its order. */
  private[graft] def dimTables(outDir: String): Seq[Warehouse.DimTable] =
    factDims.map(d => Warehouse.DimTable(d.table, s"$outDir/${d.table}",
      Seq("value" -> "value", "id" -> d.id))) :+
      Warehouse.DimTable("dim_skill", s"$outDir/dim_skill",
        Seq("value" -> "nom", "type_skill" -> "type_skill", "id" -> "id_skill"))

  /** The loaders' one materialization point: `keep(df)` inside `body`
    * computes `df` once (an eager `localCheckpoint`, which also cuts its
    * lineage, so later plans neither replay nor re-analyze it); every
    * block `keep` made is released when `body` returns or throws. `keep`
    * may be called from several [[inSteps]] steps at once; run those
    * steps inside `body`, so that they have all returned before the
    * blocks go.
    */
  private[graft] def materializing[T](body: (DataFrame => DataFrame) => T): T = {
    val kept = new ConcurrentLinkedQueue[RDD[_]]
    try body { df =>
      val cp = df.localCheckpoint()
      cp.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }.foreach(kept.add)
      cp
    } finally kept.forEach(_.unpersist(blocking = false))
  }

  /** One step of a load ([[inSteps]]): `apply()` waits for it and
    * returns its value, or throws its own exception. */
  private[graft] final class Step[A] private[Pipeline] (body: => A, failed: AtomicReference[Throwable]) {
    @volatile private[this] var out: Either[Throwable, A] = _
    private[Pipeline] val thread = new Thread(() => out =
      try Right(body) catch { case e: Throwable => failed.compareAndSet(null, e); Left(e) },
      "graft-load-step")
    thread.setDaemon(true)
    def apply(): A = { thread.join(); out.fold(e => throw e, identity) }
  }

  /** Starts a step of a load: `step(body)`. */
  private[graft] trait Steps { def apply[A](body: => A): Step[A] }

  /** The loaders' one scheduling seam: `step(f)` inside `body` starts
    * `f` at once on a daemon thread of its own, and a step waits for the
    * steps it reads by calling them. So each step starts its Spark
    * jobs as soon as its inputs are done, and the jobs of independent
    * steps run at the same time (Spark schedules jobs submitted from
    * separate threads concurrently). The load's threads — one per step,
    * its whole pool — are made inside the load, so each inherits the
    * caller's Spark local properties: a streaming query's job group,
    * which lets `stop()` cancel them, and its SQL execution id.
    *
    * Every step has ended before `inSteps` returns or throws. The first
    * step (or `body` itself) to fail is rethrown as it was thrown, once
    * all the others have ended; a step that waits on a failed one
    * throws the same exception.
    */
  private[graft] def inSteps[T](body: Steps => T): T = {
    val failed = new AtomicReference[Throwable]
    val started = new ConcurrentLinkedQueue[Thread]
    val out = try Some(body(new Steps {
      def apply[A](f: => A): Step[A] = {
        val s = new Step(f, failed)
        started.add(s.thread)
        s.thread.start()
        s
      }
    })) catch { case e: Throwable => failed.compareAndSet(null, e); None }
    var interrupted = false
    var t = started.poll()
    while (t != null)
      try { t.join(); t = started.poll() }
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread.interrupt()
    Option(failed.get).foreach(e => throw e)
    out.get
  }

  /** The shared prefix of every load: quarantine the raw landing frame,
    * clean and enrich what survives, and hand `body` the offers and the
    * quarantined rows. The quarantine caches `raw`; it is unpersisted
    * when `body` returns or throws, so `body` must run every action that
    * reads it.
    */
  def withOffers[T](raw: DataFrame)(body: (DataFrame, DataFrame) => T): T = {
    val (ok, bad) = JsonLake.quarantine(raw)
    try body(enrich(clean(ok)), bad)
    finally raw.unpersist()
  }

  /** The reference's DEFAULT_DATE calendar sentinel
    * (insert_to_postgres.py:10) — the row its facts without a parseable
    * publication date reference; `dim_date` carries it.
    */
  val SentinelDate = "2000-01-01"

  final case class Result(nRaw: Long, nClean: Long, nQuarantined: Long,
      nFacts: Long, nSkillLinks: Long)

  /** `dim_date`: a calendar spine over the offers' observed publication
    * range with the FULL attribute set of the reference's
    * populate_calendar (insert_to_postgres.py:95-135): month_name (%B),
    * year_month (%Y%m), ISO week, date_str (%d/%m/%Y), plus the
    * DEFAULT_DATE sentinel row (2000-01-01) facts with no valid date
    * point at.
    */
  private def calendar(offers: DataFrame): DataFrame = {
    val sentinel = offers.sparkSession.range(1)
      .select(to_date(lit(SentinelDate)).as("full_date"))
    offers.filter(col("pub_date").isNotNull)
      .agg(min(col("pub_date")).as("lo"), max(col("pub_date")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("full_date"))
      .unionByName(sentinel).distinct()
      .select(col("full_date"),
        dayofmonth(col("full_date")).as("jour"),
        month(col("full_date")).as("mois"),
        quarter(col("full_date")).as("trimestre"),
        year(col("full_date")).as("annee"),
        (weekday(col("full_date")) + 1).as("jour_semaine"),
        (year(col("full_date")) * 100 + month(col("full_date")))
          .as("year_month"),
        weekofyear(col("full_date")).as("week_of_year"),
        date_format(col("full_date"), "MMMM").as("month_name"),
        date_format(col("full_date"), "dd/MM/yyyy").as("date_str"))
  }

  /** Run the full flow from a JSON lake to a warehouse directory: the
    * REBUILD, which overwrites every table. Its dims number each
    * distinct value in sorted order, and `fact_offre` holds only the
    * offers with a parseable date, partitioned by `ym`.
    */
  def run(s: SparkSession, lakePath: String, outDir: String): Result = {
    val raw = JsonLake.readJson(s, lakePath, offerSchema)
    withOffers(raw)((cleaned, bad) => materializing(keep => inSteps { step =>
      val offers = step(keep(cleaned))
      // the offers' checkpoint fills the cache of `raw`; a second reader
      // started before it ends would fill it again in a job of its own
      val lake = step {
        offers()
        raw.agg(count(lit(1)), count(col(JsonLake.CorruptCol))).head
      }
      step { offers(); bad.write.mode("overwrite").json(s"$outDir/quarantine") }
      val nClean = step(offers().count())
      // skill dim is get-or-create over the UNION of payload + matched
      // skills (insert_to_postgres.py get_or_create dim_skill semantics)
      val links = step(keep(offerSkills(offers(), SkillExtract.vocabDf(s))))
      val ids = step(keep(Warehouse.numberDims(stackedDims(offers(), links()),
        DimValueCols, None)))
      val tables = dimTables(outDir)
      // a rebuild also writes dim_compagnie's secteur attribute
      val dims = tables.map(t => if (t.dim != "dim_compagnie") t
          else t.copy(cols = t.cols.patch(1, Seq("secteur" -> "secteur"), 0)))
        .map(t => step(Warehouse.writeDim(t.rows(ids()), t.path))) :+
        step(Warehouse.writeDim(calendar(offers()), s"$outDir/dim_date"))

      val written = Seq("fact_offre", "offre_skill").map(Observation(_))
      val fact = step {
        dims.foreach(_())
        Warehouse.writeFactPartitioned(facts(offers(), tables.init.map(_.rows(ids())))
          .filter(col("ym").isNotNull).observe(written(0), count(lit(1)).as("n")),
          s"$outDir/fact_offre", "ym", "job_url")
      }
      val skills = step {
        dims.foreach(_())
        bridge(links(), tables.last.rows(ids())).observe(written(1), count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$outDir/offre_skill")
      }
      fact(); skills()
      // AQE drops the observation of a plan it found empty: no row written
      val Seq(nFacts, nLinks) = written.map(_.get.getOrElse("n", 0L).asInstanceOf[Long])
      Result(lake().getLong(0), nClean(), lake().getLong(1), nFacts, nLinks)
    }))
  }
}
