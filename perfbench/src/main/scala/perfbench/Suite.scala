package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}

/** The 30 frozen headliners, resolved through `Registry.byName`. After a
  * warm-up pass at sf0.001, each is built (`q.fn`), planned and run, its
  * rows collected, at the scale directory; the seed permutes the order.
  * The rows of every timed or traced pass are written afterwards, outside
  * the clock, where `run.py` compares them with DuckDB. */
object Suite {
  final case class Headliner(module: String, name: String, q: graft.Q)

  /** The names in the headliners file, each resolved; the list never
    * changes with the registry's `bench` flags, and a name that no longer
    * resolves fails the run before anything is timed. */
  def frozen(ctx: Ctx): Seq[Headliner] = {
    val named = Files.readAllLines(ctx.headliners).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(m, n) = l.split("\\s+"); (m, n) }
    val resolved = named.map { case (m, n) =>
      (m, n, Try(graft.Registry.byName(n)).toOption) }
    val missing = resolved.collect { case (_, n, None) => n }
    if (missing.nonEmpty)
      sys.error(s"frozen headliners no longer registered: ${missing.mkString(", ")}")
    resolved.collect { case (m, n, Some(q)) => Headliner(m, n, q) }
  }

  private def warmDir(ctx: Ctx): String =
    Paths.get(ctx.sfDir).resolveSibling("sf0.001").toString

  /** Every headliner once at sf0.001, untimed. */
  private def warmUp(ctx: Ctx, hs: Seq[Headliner]): Unit = {
    val dir = warmDir(ctx)
    ctx.info ++= Map("headliners" -> hs.size, "sf" -> ctx.sfDir,
      "warmup_sf" -> dir)
    hs.foreach(h =>
      ctx.ops.run("warmup", h.name)(h.q.fn(ctx.spark, dir).collect())(_ => None))
  }

  /** Collected rows, by operation name, waiting to be written. */
  private type Outputs = mutable.ArrayBuffer[(String, Array[Row], DataFrame)]

  /** Write each output where `run.py`'s oracle check reads it. */
  private def save(ctx: Ctx, outputs: Outputs): Unit =
    outputs.foreach { case (name, rows, df) =>
      ctx.spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(ctx.dir(s"suite-out/$name").toString)
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val hs = frozen(ctx)
    warmUp(ctx, hs)

    ctx.startTimed()
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val outputs: Outputs = mutable.ArrayBuffer.empty
    var pass = 0
    while (pass == 0 || ctx.remainingS > 0) {
      var sum = 0.0
      var ok = true
      Dashboard.shuffled(hs, rnd).foreach { h =>
        val name = s"p$pass/${h.name}"
        val got = ctx.ops.run("headliner", name) {
          val df = h.q.fn(spark, ctx.sfDir)
          df.queryExecution.executedPlan
          (df, df.collect())
        }(_ => None)
        got.foreach { case (df, rows) => outputs += ((name, rows, df)) }
        ok &= got.isDefined
        sum += ctx.ops.all.last.ms
      }
      ctx.ops.add(Op("pass", s"pass-$pass", sum, ok,
        if (ok) None else Some("a headliner failed")))
      pass += 1
    }
    save(ctx, outputs)
    if (ctx.traced) {
      val (passMs, l, m) = tracePass(ctx, hs)
      ctx.layers ++= Ingest.sparkLayers(l, m)
      ctx.layers("trace.overhead_ms") = passMs - Ingest.median(
        ctx.ops.all.filter(o => o.kind == "pass" && o.ok).map(_.ms))
    }
  }

  /** The suite's layers in a run that does not time it: warm-up, then
    * one traced pass. */
  def traced(ctx: Ctx): Unit = {
    val hs = frozen(ctx)
    warmUp(ctx, hs)
    tracePass(ctx, hs)
  }

  /** One pass with build (`q.fn`, with its eager checkpoint jobs),
    * planning and execution timed apart for every headliner, summed per
    * module, and shuffle and spill over the pass. Returns the pass's wall
    * and its listener view. */
  private def tracePass(ctx: Ctx, hs: Seq[Headliner])
      : (Double, ExecListener, graft.tools.ResourceMetrics) = {
    val t = ctx.tracer.get
    val spark = ctx.spark
    val parts = mutable.LinkedHashMap.empty[String, Double]
    val outputs: Outputs = mutable.ArrayBuffer.empty
    val (_, l, m) = ExecListener.around(spark, t) {
      t.span("suite.pass") {
        hs.foreach { h =>
          val name = s"traced/${h.name}"
          ctx.ops.run("traced_headliner", name)(t.span(s"suite.${h.name}") {
            val (df, b) = t.span(s"suite.${h.name}.build")(h.q.fn(spark, ctx.sfDir))()
            val (_, p) = t.span(s"suite.${h.name}.plan")(df.queryExecution.executedPlan)()
            val (rows, e) = t.span(s"suite.${h.name}.exec")(df.collect())()
            ctx.layers(s"suite.${h.name}.wall_ms") = b + p + e
            Seq("build" -> b, "plan" -> p, "exec" -> e).foreach { case (k, v) =>
              val key = s"suite.${h.module}.${k}_ms"
              parts(key) = parts.getOrElse(key, 0.0) + v
            }
            outputs += ((name, rows, df))
          }())(_ => None)
        }
      }()
    }
    ctx.layers ++= parts
    l.spans("suite.pass").foreach(t.add)
    ctx.layers("suite.shuffle_write_mb") = m.shuffleWriteBytes / (1024.0 * 1024.0)
    ctx.layers("suite.spill_mb") = m.spillBytes / (1024.0 * 1024.0)
    save(ctx, outputs)
    (t.spans.filter(_.name == "suite.pass").last.ms, l, m)
  }
}
