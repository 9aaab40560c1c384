package perfbench

import java.util.SplittableRandom

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.operators.Pipeline
import org.apache.spark.sql.{Row, SparkSession}

/** The read path: the reference's Superset KPIs as SQL over the warehouse
  * `Pipeline.run` wrote, collected through `spark.sql` on the engine's
  * session. The timed phase parses no JSON and writes nothing. */
object Dashboard {
  val N = 5000
  val LakeSeed = 20240101L
  val LakeParts = 8
  val WarmPasses = 2
  val MinPasses = 3

  val Tables = Seq("dim_source", "dim_contrat", "dim_titre", "dim_compagnie",
    "dim_niveau_etudes", "dim_niveau_experience", "dim_date", "dim_skill",
    "fact_offre", "offre_skill")

  /** A KPI: its SQL (a month for the sliced one) and its output check. */
  final case class Kpi(name: String, sql: Int => String,
      check: (Seq[Row], Gen.Truth, Int) => Option[String])

  private def dist(dim: String, id: String) =
    (_: Int) => s"""SELECT d.value, count(*) AS n FROM fact_offre f
      JOIN $dim d ON f.$id = d.$id GROUP BY d.value"""

  private def sumsToFacts(rows: Seq[Row], t: Gen.Truth, ym: Int) =
    Ops.firstError(
      Ops.expect("distribution total", rows.map(_.getLong(1)).sum, t.facts),
      if (rows.forall(_.getLong(1) > 0)) None else Some("empty group"))

  /** At most `limit` rows, none empty, counts non-increasing. */
  private def topN(limit: Int, col: Int)(rows: Seq[Row], t: Gen.Truth,
      ym: Int) = {
    val n = rows.map(_.getLong(col))
    Ops.firstError(
      if (rows.nonEmpty && rows.size <= limit) None
      else Some(s"${rows.size} rows, want 1..$limit"),
      if (n.forall(_ > 0) && n.zip(n.drop(1)).forall { case (a, b) => a >= b })
        None else Some(s"counts not descending: ${n.take(5)}"))
  }

  private def bySource(rows: Seq[Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  val Kpis: Seq[Kpi] = Seq(
    Kpi("offers_by_source_month", _ => """SELECT s.value, f.ym, count(*) AS n
      FROM fact_offre f JOIN dim_source s ON f.id_source = s.id_source
      GROUP BY s.value, f.ym""",
      (rows, t, _) => Ops.expect("offers per source and month",
        rows.map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap,
        t.bySourceMonth)),
    Kpi("top_skills", _ => """SELECT d.nom, count(*) AS n FROM offre_skill b
      JOIN dim_skill d ON b.id_skill = d.id_skill
      GROUP BY d.nom ORDER BY n DESC, d.nom LIMIT 20""", topN(20, 1)),
    Kpi("top_companies", _ => """SELECT c.value, count(*) AS n
      FROM fact_offre f JOIN dim_compagnie c ON f.id_compagnie = c.id_compagnie
      GROUP BY c.value ORDER BY n DESC, c.value LIMIT 20""", topN(20, 1)),
    Kpi("by_contract", dist("dim_contrat", "id_contrat"), sumsToFacts),
    Kpi("by_education", dist("dim_niveau_etudes", "id_niveau_etudes"),
      sumsToFacts),
    Kpi("by_experience", dist("dim_niveau_experience",
      "id_niveau_experience"), sumsToFacts),
    Kpi("month_slice", ym => s"""SELECT s.value, count(*) AS n
      FROM fact_offre f JOIN dim_source s ON f.id_source = s.id_source
      WHERE f.ym = $ym GROUP BY s.value""",
      (rows, t, ym) => Ops.expect(s"offers per source in $ym",
        bySource(rows), t.byMonth(ym))),
    Kpi("skill_pairs", _ => """SELECT a.id_skill AS a, b.id_skill AS b,
      count(*) AS n FROM offre_skill a JOIN offre_skill b
      ON a.job_url = b.job_url AND a.id_skill < b.id_skill
      GROUP BY a.id_skill, b.id_skill ORDER BY n DESC, a, b LIMIT 50""",
      (rows, t, ym) => Ops.firstError(topN(50, 2)(rows, t, ym),
        if (rows.forall(r => r.getInt(0) < r.getInt(1))) None
        else Some("pair not ordered"))))

  /** Offers per (source, month) read straight from a warehouse directory. */
  def sourceMonth(spark: SparkSession, out: String): Map[(String, Int), Long] = {
    val f = spark.read.parquet(s"$out/fact_offre")
    val s = spark.read.parquet(s"$out/dim_source")
    f.join(s, "id_source").groupBy("value", "ym").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
  }

  def register(spark: SparkSession, out: String): Unit =
    Tables.foreach(t => spark.read.parquet(s"$out/$t").createOrReplaceTempView(t))

  /** The warehouse the KPIs read, written to `ctx.warehouse` by
    * `Pipeline.run` from the fixed-seed lake and checked against ground
    * truth. It is the system's state rather than the workload's input:
    * `run.py` builds it in a JVM of its own once per build of the engine,
    * so that every measured run starts the same way. */
  def prepare(ctx: Ctx): Unit = {
    val lake = ctx.generate(Gen.lake(LakeSeed, N, ctx.texts, "lake"))
    val lakeDir = ctx.dir("lake")
    ctx.generate(Gen.writeParts(lake.lines, lakeDir, LakeParts))
    val out = ctx.warehouse.toString
    val built = Pipeline.run(ctx.spark, lakeDir.toString, out)
    Ingest.checkRebuild(ctx.spark, built, lake.truth, out)
      .foreach(e => sys.error(s"warehouse build: $e"))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.info ++= Map("n_offers" -> N, "lake_seed" -> LakeSeed,
      "lake_parts" -> LakeParts, "kpis" -> Kpis.map(_.name))
    val t = ctx.generate(Gen.lake(LakeSeed, N, ctx.texts, "lake")).truth
    ctx.info("truth") = Ingest.truthInfo(t)
    val wh = ctx.warehouse
    register(spark, wh.toString)
    Ops.log("warm-up passes")
    // set-up: warm-up passes over the KPIs, the KPIs of a pass side by
    // side (nothing here is timed)
    val rnd = new SplittableRandom(ctx.seed)
    val months = t.months.toIndexedSeq
    def month() = months(rnd.nextInt(months.size))
    implicit val ec: ExecutionContext = ExecutionContext.global
    (1 to WarmPasses).foreach { _ =>
      val pass = Kpis.map { k =>
        val ym = month()
        Future(k.check(spark.sql(k.sql(ym)).collect().toSeq, t, ym)
          .foreach(e => sys.error(s"warm-up ${k.name}: $e")))
      }
      Await.result(Future.sequence(pass), Duration.Inf)
    }

    ctx.startTimed()
    var pass = 0
    while (pass < MinPasses || ctx.remainingS > 0) {
      val order = shuffled(Kpis, rnd)
      val t0 = System.nanoTime()
      val okAll = order.map { k =>
        val ym = month()
        ctx.ops.run("kpi", k.name)(spark.sql(k.sql(ym)).collect().toSeq)(
          rows => k.check(rows, t, ym)).isDefined
      }.forall(identity)
      val ms = (System.nanoTime() - t0) / 1e6
      // a refresh is a pass over every KPI; one failed KPI fails it
      ctx.ops.add(Op("refresh", s"refresh-$pass", ms, okAll,
        if (okAll) None else Some("a KPI failed")))
      pass += 1
    }
    if (ctx.traced) {
      traceLayers(ctx, t, month())
      // the layout the KPIs read
      ctx.layers("warehouse.bytes_mb") = Ingest.dirBytes(wh) / (1024.0 * 1024.0)
      ctx.layers("warehouse.files") = Ingest.dirFiles(wh).toDouble
      // the operators no listed workload times: one traced pass of the
      // frozen headliners after their warm-up
      Suite.traced(ctx)
    }
  }

  /** A seeded permutation. */
  def shuffled[T](xs: Seq[T], r: SplittableRandom): Seq[T] =
    new scala.util.Random(r.nextLong()).shuffle(xs)

  /** Per KPI: analysis, physical planning and execution timed apart, and
    * rows read per row returned; Spark counters over one traced refresh;
    * the tracing overhead against the untraced refreshes. */
  def traceLayers(ctx: Ctx, t: Gen.Truth, ym: Int): Unit = {
    val tr = ctx.tracer.get
    val spark = ctx.spark
    val (_, l, m) = ExecListener.around(spark, tr) {
      tr.span("dashboard.refresh") {
        Kpis.foreach { k =>
          tr.span(s"dash.${k.name}") {
            val (df, _) = tr.span(s"dash.${k.name}.build")(spark.sql(k.sql(ym)))()
            val (_, planMs) = tr.span(s"dash.${k.name}.plan")(
              df.queryExecution.executedPlan)()
            val ((rows, read), execMs) = tr.span(s"dash.${k.name}.exec")(
              graft.tools.ResourceAudit.measure(spark)(df.collect().toSeq))()
            ctx.ops.run("trace", s"${k.name} traced")(())(_ =>
              k.check(rows, t, ym))
            ctx.layers(s"dash.${k.name}.plan_ms") = planMs
            ctx.layers(s"dash.${k.name}.exec_ms") = execMs
            ctx.layers(s"dash.${k.name}.rows_read_per_row") =
              read.inputRecords.toDouble / math.max(1, rows.size)
          }()
        }
      }()
    }
    val refreshMs = tr.spans.filter(_.name == "dashboard.refresh").last.ms
    l.spans("dashboard.refresh").foreach(tr.add)
    ctx.layers ++= Ingest.sparkLayers(l, m)
    ctx.layers("trace.overhead_ms") = refreshMs - Ingest.median(
      ctx.ops.all.filter(o => o.kind == "refresh" && o.ok).map(_.ms))
  }
}
