package graft.operators

import java.nio.file.Files

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SharedSpark
import graft.functions.Keys
import graft.sources.JsonLake
import graft.streaming.StreamingPipeline
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end flow: dirty scraper JSON -> warehouse star schema. */
class PipelineSpec extends AnyFunSuite {
  import SharedSpark._

  private def writeLake(): String = {
    val dir = Files.createTempDirectory("graft_pipe").toFile
    val f = new java.io.File(dir, "offers.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"job_url":"u1","titre":"Data Engineer!","via":"rekrute","publication_date":"2024-03-05","description":"spark data hash join cloud","contrat":"CDI","companie":"Acme","niveau_etudes":"Master","niveau_experience":"3 ans","skills":{"hard_skills":["Python","Spark "],"soft_skills":["Communication"]}}""")
    w.println("""{"job_url":"u1","titre":"Data Engineer!","via":"rekrute","publication_date":"2024-03-06","description":"dup of u1 later date","contrat":"CDI","niveau_etudes":"Master"}""")
    w.println("""{"job_url":"u2","titre":"Vendeur","via":"indeed","publication_date":"07/04/2024","description":"vente magasin sort merge","contrat":"","niveau_etudes":"Bac"}""")
    w.println("""{"job_url":"","titre":"NoUrl","via":"indeed","publication_date":"2024-01-01","description":"x","contrat":"CDD","niveau_etudes":"Bac"}""")
    w.println("""{"job_url":"u3","titre":"Chercheur","via":"emploi","publication_date":"not a date","description":"table scan fast","contrat":"CDD","niveau_etudes":"Doctorat"}""")
    w.println("""BROKEN {not json""")
    w.close()
    f.getAbsolutePath
  }

  test("lake -> star warehouse: dedup, quarantine, FK integrity") {
    val out = Files.createTempDirectory("graft_pipe_out").toFile.getAbsolutePath
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val r = Pipeline.run(spark, writeLake(), out)
    // the quarantine's cache is released once the run has read it
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty,
      "Pipeline.run left a cached RDD behind")

    assert(r.nRaw === 6)
    assert(r.nQuarantined === 1)
    // u1 deduped (earliest pub_date wins), empty-url row dropped
    assert(r.nClean === 3)
    // u3 has an unparseable date -> excluded from the partitioned fact
    assert(r.nFacts === 2)
    assert(r.nSkillLinks > 0)
    assert(r.nSkillLinks === spark.read.parquet(s"$out/offre_skill").count())

    // earliest-publication survivor for u1
    val fact = spark.read.parquet(s"$out/fact_offre")
    val u1 = fact.filter(col("job_url") === "u1").head
    assert(u1.getAs[java.sql.Date]("pub_date").toString === "2024-03-05")

    // FK integrity: every fact dim id resolves, for every dimension
    Seq("dim_source" -> "id_source", "dim_contrat" -> "id_contrat",
      "dim_titre" -> "id_titre", "dim_compagnie" -> "id_compagnie",
      "dim_niveau_etudes" -> "id_niveau_etudes",
      "dim_niveau_experience" -> "id_niveau_experience").foreach {
      case (d, id) =>
        val dimDf = spark.read.parquet(s"$out/$d")
        assert(fact.join(dimDf, fact(id) === dimDf(id)).count() === fact.count(),
          s"dangling $id in fact")
    }
    // dim_date spans the observed publication range plus the
    // DEFAULT_DATE sentinel, with the reference's full attribute set
    val dDate = spark.read.parquet(s"$out/dim_date")
    assert(dDate.count() >= 3)
    assert(dDate.filter(col("full_date") === Pipeline.SentinelDate).count() === 1)
    val span = dDate.filter(col("full_date") =!= Pipeline.SentinelDate)
      .agg(min(col("full_date")), max(col("full_date"))).head
    assert(span.getDate(0).toString === "2024-03-05")
    assert(span.getDate(1).toString === "2024-04-07")
    val mar5 = dDate.filter(col("full_date") === "2024-03-05").head
    assert(mar5.getAs[Int]("year_month") === 202403)
    assert(mar5.getAs[Int]("week_of_year") === 10)
    assert(mar5.getAs[String]("month_name") === "March")
    assert(mar5.getAs[String]("date_str") === "05/03/2024")
    assert(mar5.getAs[Int]("jour_semaine") === 2) // Tuesday, isoweekday

    // dim_compagnie carries the secteur attribute (schema.sql:36-41)
    val dComp = spark.read.parquet(s"$out/dim_compagnie")
    assert(dComp.columns.contains("secteur"))
    assert(dComp.filter(col("value") === "acme").head
      .getAs[String]("secteur") === "Data")

    // fact payload columns (schema.sql:78-80) survive to the warehouse
    assert(Seq("description", "competences", "secteur")
      .forall(fact.columns.contains))
    assert(fact.filter(col("job_url") === "u1").head
      .getAs[String]("description").contains("spark"))

    // bridge links only surviving offers; every link resolves in the
    // get-or-create skill dim built from payload + phrase matches
    val bridge = spark.read.parquet(s"$out/offre_skill")
    val skills = spark.read.parquet(s"$out/dim_skill")
    assert(bridge.join(skills, "id_skill").count() === bridge.count())
    assert(bridge.select("job_url").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("u1", "u2", "u3")))
    // the NER-payload skills were flattened, normalized, and
    // dimensioned alongside the phrase-matched vocabulary terms
    val skillNames = skills.collect().map(r => r.getAs[String]("nom")).toSet
    assert(Set("python", "spark", "communication").subsetOf(skillNames))
    val u1Skills = bridge.filter(col("job_url") === "u1").join(skills, "id_skill")
      .collect().map(_.getAs[String]("nom")).toSet
    assert(Set("python", "communication", "spark", "hash join").subsetOf(u1Skills))

    // enrichment: u2's "vente" description classified Commerce, Bac -> 2
    val contratDefault = spark.read.parquet(s"$out/dim_contrat")
      .filter(col("value") === "unspecified")
    assert(contratDefault.count() === 1) // u2's empty contrat defaulted

    // canonicalization: "3 ans" is neither junior- nor expert-listed ->
    // senior (init_groq.py experience rules); absent stays Unspecified
    val expValues = spark.read.parquet(s"$out/dim_niveau_experience")
      .collect().map(_.getAs[String]("value")).toSet
    assert(expValues === Set("senior", "unspecified"))
  }

  test("a rebuild without a dated offer writes no fact and reports zero facts") {
    val dir = Files.createTempDirectory("graft_pipe_nodate").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "offers.jsonl"))
    w.println("""{"job_url":"u3","titre":"Chercheur","via":"emploi","publication_date":"not a date","description":"table scan fast","contrat":"CDD","niveau_etudes":"Doctorat"}""")
    w.println("""BROKEN {not json""")
    w.close()
    val out = Files.createTempDirectory("graft_pipe_nodate_out").toFile.getAbsolutePath
    val r = Pipeline.run(spark, dir.getAbsolutePath, out)
    assert((r.nRaw, r.nClean, r.nQuarantined, r.nFacts) === ((2L, 1L, 1L, 0L)))
    assert(r.nSkillLinks > 0)
    assert(r.nSkillLinks === spark.read.parquet(s"$out/offre_skill").count())
  }

  test("stacked numbering: every rebuild dim equals its own per-dim numbering, ids included") {
    val lake = writeLake()
    val out = Files.createTempDirectory("graft_pipe_dims").toFile.getAbsolutePath
    Pipeline.run(spark, lake, out)
    def same(a: DataFrame, b: DataFrame, what: String) = {
      assert(a.count() > 1, s"$what has too few values to pin a numbering")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)
    }
    Pipeline.withOffers(JsonLake.readJson(spark, lake, Pipeline.offerSchema)) {
      (offers, _) =>
        Pipeline.factDims.foreach(d => same(
          spark.read.parquet(s"$out/${d.table}").select("value", d.id),
          Keys.denseIds(offers.select(d.key.as("value")).distinct(), Nil,
            Seq("value"), d.id), d.table))
        val links = Pipeline.offerSkills(offers, SkillExtract.vocabDf(spark))
        same(spark.read.parquet(s"$out/dim_skill"),
          Keys.denseIds(links.select("nom", "type_skill").distinct(), Nil,
            Seq("nom", "type_skill"), "id_skill").select("nom", "type_skill", "id_skill"),
          "dim_skill")
    }
  }

  /** The Spark jobs `body` starts, counted by a listener on a drained bus. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBridge.drain(sc); jobs.get } finally sc.removeSparkListener(l)
  }

  // The lake is tiny, so these counts are the loaders' fixed cost: one
  // materialization per shared frame and one job or a few per write. A
  // replayed frame or a per-dim numbering pass shows up as many more.
  test("job-count guard: a rebuild and an increment run in a bounded number of Spark jobs") {
    val lake = writeLake()
    val out = Files.createTempDirectory("graft_pipe_jobs").toFile.getAbsolutePath
    val rebuild = jobsOf(Pipeline.run(spark, lake, out))
    val inc = Files.createTempDirectory("graft_pipe_jobs_inc").toFile.getAbsolutePath
    val batch = () => JsonLake.readJson(spark, lake, Pipeline.offerSchema)
    StreamingPipeline.loadBatch(batch(), inc, 0L)
    // the second load of the same lines reads seven existing dims
    val increment = jobsOf(StreamingPipeline.loadBatch(batch(), inc, 1L))
    // bounds a few jobs above the measured 34 and 32
    assert(rebuild <= 38 && increment <= 36,
      s"Pipeline.run ran $rebuild jobs, loadBatch $increment")
  }

  test("compile guard: a second rebuild of a lake of the same shape compiles no class") {
    def compiled(load: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      load
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def rebuild() = compiled(Pipeline.run(spark, writeLake(),
      Files.createTempDirectory("graft_pipe_codegen").toFile.getAbsolutePath))
    val first = rebuild()
    val second = rebuild()
    info(s"classes compiled: $first by the first rebuild, $second by the second")
    assert(second === 0L)
  }

  private val InsertTarget =
    "(?s)\\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: (?:file:)?([^\\s,]+)".r

  /** The SQL executions `body` runs, as start and end events in bus
    * order: (execution id, true at its start, the table it inserts into
    * — the last segment of the target path — or ""). */
  private def executionsOf(body: => Unit): Seq[(Long, Boolean, String)] = {
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[(Long, Boolean, String)]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => events.add((x.executionId, true,
          InsertTarget.findFirstMatchIn(x.physicalPlanDescription)
            .fold("")(_.group(1).stripSuffix("/").split('/').last)))
        case x: SparkListenerSQLExecutionEnd => events.add((x.executionId, false, ""))
        case _ =>
      }
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBridge.drain(sc); events.asScala.toSeq }
    finally sc.removeSparkListener(l)
  }

  /** The most executions in flight at one time. */
  private def peak(events: Seq[(Long, Boolean, String)]): Int =
    events.scanLeft(0)((n, e) => if (e._2) n + 1 else n - 1).max

  // The loaders run their steps as a dependency graph: steps that do not
  // read each other's output run at once, and an increment writes no fact
  // or bridge row before every dim it appends is written.
  test("overlap and order guard: a load overlaps its executions, facts follow the dim appends") {
    val lake = writeLake()
    val out = Files.createTempDirectory("graft_pipe_overlap").toFile.getAbsolutePath
    val rebuild = executionsOf(Pipeline.run(spark, lake, out))
    val inc = Files.createTempDirectory("graft_pipe_overlap_inc").toFile.getAbsolutePath
    val batch = JsonLake.readJson(spark, lake, Pipeline.offerSchema)
    StreamingPipeline.loadBatch(batch, inc, 0L)
    // new urls, sources, titles and companies: three fact dims grow
    val grown = Seq("job_url", "titre", "via", "companie").foldLeft(batch)((df, c) =>
      df.withColumn(c, concat(col(c), lit(" bis"))))
    val increment = executionsOf(StreamingPipeline.loadBatch(grown, inc, 1L))
    assert(peak(rebuild) >= 2 && peak(increment) >= 2,
      s"at most ${peak(rebuild)} (rebuild) and ${peak(increment)} (increment) " +
        "SQL executions ran at once")
    val target = increment.collect { case (id, true, t) => id -> t }.toMap
    val at = increment.zipWithIndex
    val dimEnds = at.collect { case ((id, false, _), i) if target.get(id).exists(_.startsWith("dim_")) => i }
    val factStarts = at.collect {
      case ((_, true, t), i) if t == "fact_offre" || t == "offre_skill" => i
    }
    assert(dimEnds.size >= 3 && factStarts.size === 2,
      s"${dimEnds.size} dim appends, ${factStarts.size} fact and bridge writes")
    assert(factStarts.min > dimEnds.max,
      "a fact or bridge write started before the last dim append ended")
  }

  test("a rebuild whose dim write fails throws that write's own error and leaves nothing running") {
    val out = Files.createTempDirectory("graft_pipe_fail").toFile
    // dim_titre links to a path under a regular file: no directory can
    // be made there, so its write fails and every other write can run
    val blocker = new java.io.File(out, "blocker")
    assert(blocker.createNewFile())
    Files.createSymbolicLink(new java.io.File(out, "dim_titre").toPath,
      new java.io.File(blocker, "dim_titre").toPath)
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](Pipeline.run(spark, writeLake(), out.getAbsolutePath))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    assert(e.getMessage.contains(s"${out.getAbsolutePath}/dim_titre"), e.getMessage)
    // the fact and bridge writes wait for every dim, so neither ran
    assert(!new java.io.File(out, "fact_offre").exists() &&
      !new java.io.File(out, "offre_skill").exists())
    assert(new java.io.File(out, "dim_source").exists())
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty,
      "a failed Pipeline.run left a cached RDD behind")
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "graft-load-step"),
      "a load thread outlived its load")
  }
}
