package perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import graft.operators.{Pipeline, SkillExtract}
import graft.sources.{JsonLake, Warehouse}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** The write path: `Pipeline.run` rebuilds of an N-offer lake into a
  * fresh warehouse, then scrape files landed one at a time, each followed
  * by `StreamingPipeline.runOnce` on a persistent checkpoint. */
object Ingest {
  val N = 2000
  val FileOffers = 200
  /** The warm-up lake: its own prefix and seed, so that nothing the
    * timed rebuild reads was parsed or cached before it. */
  val WarmN = 100
  /** Increments before the timed ones; the first creates the dims. */
  val WarmIncrements = 1
  val Increments = 3
  val LakeParts = 8

  /** Set-up sizes, stated in every record. */
  def info: Map[String, Any] = Map("n_offers" -> N,
    "offers_per_file" -> FileOffers, "lake_parts" -> LakeParts,
    "warm_offers" -> WarmN, "warm_increments" -> WarmIncrements,
    "rebuilds" -> 1, "increments" -> Increments)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.info ++= info
    val lakeDir = ctx.dir("lake")
    val warmDir = ctx.dir("warm-lake")
    val (lake, warm) = ctx.generate {
      val lake = Gen.lake(ctx.seed, N, ctx.texts, "lake")
      Gen.writeParts(lake.lines, lakeDir, LakeParts)
      val warm = Gen.lake(ctx.seed ^ 0x5eedL, WarmN, ctx.texts, "warm")
      Gen.writeParts(warm.lines, warmDir, LakeParts)
      (lake, warm)
    }
    ctx.info ++= Map("truth" -> truthInfo(lake.truth),
      "lake_bytes" -> dirBytes(lakeDir))
    val scrape = (i: Int) => ctx.generate(
      Gen.lake(ctx.seed * 1000003L + i, FileOffers, ctx.texts, s"scrape$i"))

    // set-up: a rebuild of the warm-up lake and the increment that
    // creates the streaming warehouse's dims, run side by side (neither
    // is timed, and each warms the JIT for the other's stages), then every
    // cached block dropped
    Ops.log("warm-up")
    val stream = new Stream(ctx, scrape)
    val warmRebuild = Future(
      Pipeline.run(spark, warmDir.toString, ctx.dir("wh-warm").toString))(
      ExecutionContext.global)
    (1 to WarmIncrements).foreach(_ => stream.increment(timed = false))
    val w = Await.result(warmRebuild, Duration.Inf)
    Ops.firstError(Ops.expect("warm-up raw", w.nRaw, warm.truth.raw),
      Ops.expect("warm-up facts", w.nFacts, warm.truth.facts))
      .foreach(e => sys.error(s"set-up: $e"))
    clearCache(spark)

    ctx.startTimed()
    clearCache(spark)
    val out = ctx.dir("wh")
    val rebuild = () => Pipeline.run(spark, lakeDir.toString, out.toString)
    // a traced run traces the rebuild: one span per SQL execution
    ctx.ops.run("rebuild", "rebuild")(
      if (ctx.traced) traceRebuild(ctx, rebuild, lakeDir, out) else rebuild())(
      r => checkRebuild(spark, r, lake.truth, out.toString))
    // what a rebuild leaves cached; dropped so the increments start clean
    ctx.layers("jsonlake.cache_resident_mb") = residentCacheMb(spark)
    clearCache(spark)
    var i = 0
    while (i < Increments || ctx.remainingS > 0) {
      stream.increment(timed = true)
      i += 1
    }
    if (ctx.traced) {
      stream.traced(ctx.tracer.get)
      forcedStages(ctx, lakeDir, out, lake)
    }
  }

  def truthInfo(t: Gen.Truth): Map[String, Any] = Map("raw" -> t.raw,
    "quarantined" -> t.quarantined, "clean" -> t.clean, "facts" -> t.facts,
    "dateless" -> t.dateless, "third_format_unparsed" -> t.thirdFormat)

  def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def dirFiles(p: Path): Long =
    Files.walk(p).iterator().asScala
      .count(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))

  /** Resident cached blocks (RDD and SQL caches), in MB. */
  def residentCacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)

  /** Drop every cached block so that the next rebuild parses its input. */
  def clearCache(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** `Pipeline.Result` against ground truth, the fact table's foreign
    * keys against its dims, and offers per source and month. */
  def checkRebuild(spark: SparkSession, r: Pipeline.Result, t: Gen.Truth,
      out: String): Option[String] = {
    Ops.firstError(
      Ops.expect("raw", r.nRaw, t.raw),
      Ops.expect("quarantined", r.nQuarantined, t.quarantined),
      Ops.expect("clean", r.nClean, t.clean),
      Ops.expect("facts", r.nFacts, t.facts),
      if (r.nSkillLinks > 0) None else Some("no skill links"),
      Ops.expect("dangling foreign keys", danglingKeys(spark, out), 0L),
      Ops.expect("offers per source and month",
        Dashboard.sourceMonth(spark, out), t.bySourceMonth))
  }

  private val Fks = Seq("dim_source" -> "id_source",
    "dim_contrat" -> "id_contrat", "dim_titre" -> "id_titre",
    "dim_compagnie" -> "id_compagnie",
    "dim_niveau_etudes" -> "id_niveau_etudes",
    "dim_niveau_experience" -> "id_niveau_experience")

  /** Fact rows whose key misses its dim, plus bridge rows whose skill
    * misses dim_skill. */
  def danglingKeys(spark: SparkSession, out: String): Long = {
    val fact = spark.read.parquet(s"$out/fact_offre")
    val missing = Fks.map { case (dim, id) =>
      fact.select(id).join(spark.read.parquet(s"$out/$dim").select(id),
        Seq(id), "left_anti")
    }.reduce(_ union _)
    val bridge = spark.read.parquet(s"$out/offre_skill").select("id_skill")
      .join(spark.read.parquet(s"$out/dim_skill").select("id_skill"),
        Seq("id_skill"), "left_anti")
    missing.union(bridge).count()
  }

  /** The incremental loader over its own landing directory, checkpoint
    * and warehouse. */
  final class Stream(ctx: Ctx, scrape: Int => Gen.Lake) {
    val landing: Path = ctx.dir("landing")
    val staging: Path = ctx.dir("staging")
    val out: Path = ctx.dir("stream-wh")
    val ckpt: Path = ctx.dir("stream-ckpt")
    private var landed = 0
    private var expectedFacts = 0L
    private var expectedQuarantined = 0L

    /** The next scrape file, written to staging and counted as
      * expected; landing it is the caller's timed step. */
    def next(): (String, Path) = {
      val name = f"scrape-$landed%05d.json"
      val file = scrape(landed)
      landed += 1
      expectedFacts += file.truth.clean
      expectedQuarantined += file.truth.quarantined
      (name, Gen.stage(file.lines, staging, name))
    }

    private def landAndLoad(staged: Path): Unit = {
      Gen.land(staged, landing)
      StreamingPipeline.runOnce(ctx.spark, landing.toString, out.toString,
        ckpt.toString)
    }

    def increment(timed: Boolean): Unit = {
      val (name, staged) = next()
      val body = () => landAndLoad(staged)
      if (timed) ctx.ops.run("increment", name)(body())(_ => check())
      else { body(); check().foreach(e => sys.error(s"set-up $name: $e")) }
    }

    /** Facts so far match the clean offers landed; nothing rejected. */
    def check(): Option[String] = {
      val s = ctx.spark
      Ops.firstError(
        Ops.expect("streamed facts",
          s.read.parquet(s"$out/fact_offre").count(), expectedFacts),
        Ops.expect("streamed quarantine",
          s.read.text(s"$out/quarantine").count(), expectedQuarantined),
        if (Files.exists(out.resolve("rejected_batches")))
          Some("a batch was rejected by the quality gate") else None)
    }

    /** Land the next file and run `runOnce` under the listener; the
      * load's own layers are read from the SQL executions it ran. */
    def traced(t: Tracer): Unit = {
      val (name, staged) = next()
      val (_, l, _) = ExecListener.around(ctx.spark, t) {
        t.span("streaming.increment")(landAndLoad(staged))()
      }
      val runOnce = t.spans.last
      val execs = l.spans("streaming.increment")
      execs.foreach(t.add)
      ctx.ops.run("trace", s"$name traced")(())(_ => check())
      // loadBatch runs inside the trigger, from its first SQL execution
      // to its last; the rest of runOnce is the streaming trigger
      val loadMs = if (execs.isEmpty) 0.0
        else execs.map(_.endMs).max - execs.map(_.startMs).min
      def total(p: String => Boolean) =
        execs.filter(x => p(x.name)).map(_.ms).sum
      ctx.layers("streaming.trigger_ms") = runOnce.ms - loadMs
      // the same load untraced: the increments just before this one
      ctx.layers("trace.overhead_ms") = runOnce.ms - median(
        ctx.ops.all.filter(o => o.kind == "increment" && o.ok).map(_.ms))
      ctx.layers("streaming.jobs_per_increment") = l.jobs.toDouble
      // the DataQuality gate's report is the load_audit write
      ctx.layers("dq.gate_ms") = total(_.endsWith("load_audit"))
      // upsertDim: its max-id lookups and its dim writes
      ctx.layers("warehouse.upsert_dim_ms") = total(n =>
        n.startsWith("sql:dim_") || n.contains("Warehouse.scala"))
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The terms `offerSkills` probed the vocabulary with, as the engine
    * counted them: the output rows of its `term` explode in the plan that
    * materialized `cached`. NaN if the plan has no such node. */
  def termsProbed(cached: DataFrame): Double = {
    val rows = cached.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }.flatMap(p => Plans.collect(p) {
      case g: GenerateExec if g.generatorOutput.exists(_.name == "term") =>
        g.metrics("numOutputRows").value
    })
    if (rows.isEmpty) Double.NaN else rows.sum.toDouble
  }

  /** Materialize a stage's output and return it with its row count. */
  private def force(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  /** `rebuild` under the listener: one span per SQL execution, the
    * Spark counters, and the warehouse it wrote. */
  def traceRebuild(ctx: Ctx, rebuild: () => Pipeline.Result, lakeDir: Path,
      out: Path): Pipeline.Result = {
    val t = ctx.tracer.get
    val (r, l, m) = ExecListener.around(ctx.spark, t) {
      t.span("pipeline.run")(rebuild())()._1
    }
    l.spans("pipeline.run").foreach(t.add)
    ctx.layers("trace.listener_ms") =
      l.executions.map(x => x.endMs - x.startMs).filterNot(_.isNaN).sum
    ctx.layers ++= sparkLayers(l, m)
    ctx.layers("warehouse.bytes_mb") = dirBytes(out) / (1024.0 * 1024.0)
    ctx.layers("warehouse.files") = dirFiles(out).toDouble
    ctx.layers("warehouse.write_amp") =
      dirBytes(out).toDouble / dirBytes(lakeDir)
    r
  }

  /** The rebuild's stages forced one at a time, each on its predecessor's
    * materialized output; their sum against `trace.listener_ms` is the
    * recomputation across `Pipeline.run`'s actions. The outputs the
    * stages do not produce are written from the traced rebuild's `out`. */
  def forcedStages(ctx: Ctx, lakeDir: Path, out: Path, lake: Gen.Lake)
      : Unit = {
    val t = ctx.tracer.get
    val s = ctx.spark
    clearCache(s)
    val forced = ctx.dir("wh-forced").toString
    def stage[T](name: String)(body: => T): T = {
      val (v, ms) = t.span(name)(body)()
      ctx.layers(s"$name${if (name.startsWith("warehouse.")) "" else "_ms"}") = ms
      v
    }
    val ((ok, bad), nRaw) = stage("jsonlake.read") {
      val raw = JsonLake.readJson(s, lakeDir.toString, Pipeline.offerSchema)
      val (ok, bad) = JsonLake.quarantine(raw)
      ((ok, bad), raw.count())
    }
    val (okC, nOk) = force(ok)
    ctx.layers("jsonlake.rows_in") = nRaw.toDouble
    ctx.layers("jsonlake.quarantined") = bad.count().toDouble
    val (cleaned, nClean) = stage("pipeline.clean")(force(Pipeline.clean(okC)))
    ctx.layers("pipeline.clean_keep_ratio") = nClean.toDouble / nOk
    ctx.layers("pipeline.dates_unparsed") =
      cleaned.filter(col("pub_date").isNull).count().toDouble
    ctx.info("dates_unparsed_third_format") = lake.truth.thirdFormat
    val (offers, _) = stage("pipeline.enrich")(force(Pipeline.enrich(cleaned)))
    val vocab = SkillExtract.vocabDf(s)
    val (links, nLinks) = stage("pipeline.skills")(
      force(Pipeline.offerSkills(offers, vocab)))
    val probed = termsProbed(links)
    ctx.layers("pipeline.skills_terms_probed") = probed
    ctx.layers("pipeline.skills_links") = nLinks.toDouble
    ctx.layers("pipeline.skills_hit_ratio") = nLinks / probed
    val dims = stage("pipeline.dims") {
      Seq(("via", "id_source", "dim_source"),
        ("contrat", "id_contrat", "dim_contrat"),
        ("titre_homogene", "id_titre", "dim_titre"),
        ("niveau_etudes", "id_niveau_etudes", "dim_niveau_etudes"),
        ("niveau_experience", "id_niveau_experience",
          "dim_niveau_experience")).map { case (c, id, name) =>
        name -> force(Pipeline.dim(offers, c, id))
      }
    }
    ctx.layers("pipeline.dim_values") = dims.map(_._2._2).sum.toDouble
    dims.foreach { case (name, (df, _)) =>
      stage(s"warehouse.write_ms.$name")(Warehouse.writeDim(df, s"$forced/$name"))
    }
    // the remaining outputs are written from what the rebuild produced,
    // so each write is timed on its own
    Seq("dim_compagnie", "dim_date", "dim_skill").foreach { name =>
      val df = s.read.parquet(s"$out/$name").cache()
      df.count()
      stage(s"warehouse.write_ms.$name")(Warehouse.writeDim(df, s"$forced/$name"))
    }
    val fact = s.read.parquet(s"$out/fact_offre").cache()
    fact.count()
    stage("warehouse.write_ms.fact_offre")(Warehouse.writeFactPartitioned(
      fact, s"$forced/fact_offre", "ym", "job_url"))
    val bridge = s.read.parquet(s"$out/offre_skill").cache()
    bridge.count()
    stage("warehouse.write_ms.offre_skill")(
      bridge.write.mode("overwrite").parquet(s"$forced/offre_skill"))
    val badC = bad.cache()
    badC.count()
    stage("warehouse.write_ms.quarantine")(
      badC.write.mode("overwrite").json(s"$forced/quarantine"))
    ctx.layers("trace.forced_ms") = t.spans
      .filter(sp => sp.parent == "run" && (sp.name.startsWith("pipeline.") ||
        sp.name.startsWith("jsonlake.") || sp.name.startsWith("warehouse.")) &&
        sp.name != "pipeline.run")
      .map(_.ms).sum
    clearCache(s)
  }

  def sparkLayers(l: ExecListener, m: graft.tools.ResourceMetrics)
      : Map[String, Double] = Map(
    "spark.jobs" -> l.jobs.toDouble,
    "spark.sql_executions" -> l.executions.size.toDouble,
    "spark.tasks" -> m.tasks.toDouble,
    "spark.shuffle_write_mb" -> m.shuffleWriteBytes / (1024.0 * 1024.0),
    "spark.spill_mb" -> m.spillBytes / (1024.0 * 1024.0),
    "spark.gc_ms" -> m.gcTimeMs.toDouble,
    "spark.task_spread" -> m.taskSpread)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val v = xs.sorted; (v((v.size - 1) / 2) + v(v.size / 2)) / 2 }
}
