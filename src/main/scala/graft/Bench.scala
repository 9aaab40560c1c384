package graft

import scala.util.control.NonFatal

import graft.tools.{BytePins, PlanFingerprint, ResourceAudit, ResourceMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main and the engine's one timing harness: times the
  * headline (bench-flagged) queries at the SPARK_GRAFT_SF_DIR scale
  * factor and prints ONE JSON line. Each query is fully materialized
  * via the noop sink (a bare count() would let Catalyst prune the
  * projection and under-report).
  *
  * Registered query names given as arguments (any key, not only
  * headliners) replace the bench-flagged set: that run prints its
  * `resources` on stdout and leaves the committed bench_last records
  * alone, so iterating on one operator never rewrites them.
  *
  * Contention robustness (three rounds of phantom >4x outliers on the
  * driver's bench host, each adjudicated away by a quiet-host re-run):
  * best of THREE timed passes per query; any query whose worst pass
  * exceeds 2x its best is automatically RE-RUN once and the rerun
  * replaces the worst pass — a transient contention spike then washes
  * out (the rerun lands near the min and the flag drops), while a real
  * regression reproduces and stays flagged. Per-query `spread` is the
  * median absolute deviation of the kept passes; queries still
  * spread-flagged after the rerun land in `outliers`, so a genuinely
  * noisy host self-documents instead of silently inflating totals.
  *
  * Fail loud: a query that throws in its warm-up or in any pass is
  * listed in `failed` and in no timing, total or resource map (a
  * thrown pass would otherwise read as a fast one), and Bench exits
  * nonzero after writing its record.
  */
object Bench {

  /** JIT/codegen warm-up runs every query once here before any timing. */
  private val WarmupDir = "/root/testdata/sf0.001"

  /** One query's kept measurements. `best`/`mad` are seconds over the
    * kept passes; `res` is the audited first pass's task metrics;
    * `buildMs` is the best pass's time for `q.fn` to return (eager
    * localCheckpoint jobs included); `planMs` and `planHash` come from
    * planning the last pass's own DataFrame once after it ran.
    */
  final case class Timing(name: String, best: Double, mad: Double,
      flagged: Boolean, res: ResourceMetrics, buildMs: Double,
      planMs: Double, planHash: String)

  final case class Record(sfDir: String, timings: Seq[Timing],
      failed: Seq[String], auditTiers: Seq[String],
      planDrift: Option[Seq[String]], bytesDrift: Option[Seq[String]]) {

    def total: Double = timings.map(_.best).sum

    // working_set excludes the declared output-bound audit tiers
    // (Q.auditTier — dedup_prefix_filter alone was 91% of the r14 sf3
    // suite total, so the full total stops measuring the engine at
    // scale; "value" keeps its full-total meaning because BASELINE's 2×
    // gate is defined over the frozen 30-query set). audit_tiers names
    // the excluded queries so the python tooling derives the split from
    // the log instead of hardcoding it (VERDICT r14 item 3).
    def workingSet: Double =
      timings.filterNot(t => auditTiers.contains(t.name)).map(_.best).sum

    /** Two renderings of the same measurements (VERDICT r15 item 2):
      * the full line (resources map included) lands in the committed
      * bench_last files; the headliner run's STDOUT carries the same
      * line with `resources` elided — the driver's BENCH record
      * captures only a 2000-char stdout tail, which truncated the
      * resources map mid-line every round before r15. `value`,
      * `queries`, `spread` and the drift lists are byte-identical
      * between the two.
      */
    def render(withResources: Boolean): String = {
      def list(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      // None (unpinned SF, or no pin file loaded) renders as null — an
      // empty LIST must always mean "checked and clean", never "unchecked"
      def nullable(xs: Option[Seq[String]]) = xs.map(list).getOrElse("null")
      def perQuery(f: Timing => String) =
        timings.map(t => "\"" + t.name + "\":" + f(t)).mkString("{", ",", "}")
      val mb = 1024.0 * 1024.0
      val res = if (!withResources) "" else ",\"resources\":" + perQuery { t =>
        val m = t.res
        s"""{"tasks":${m.tasks},""" +
          f""""input_mb":${m.inputBytes / mb}%.2f,""" +
          f""""shuffle_read_mb":${m.shuffleReadBytes / mb}%.2f,""" +
          f""""shuffle_write_mb":${m.shuffleWriteBytes / mb}%.2f,""" +
          s""""shuffle_write_records":${m.shuffleWriteRecords},""" +
          f""""spill_mb":${m.spillBytes / mb}%.2f,""" +
          s""""gc_ms":${m.gcTimeMs},""" +
          f""""task_spread":${m.taskSpread}%.2f,""" +
          f""""build_ms":${t.buildMs}%.1f,"plan_ms":${t.planMs}%.1f}"""
      }
      s"""{"metric":"total","value":${f"$total%.3f"},"working_set":${f"$workingSet%.3f"},"audit_tiers":${list(auditTiers)},"unit":"sec","queries":${perQuery(t => f"${t.best}%.3f")},"spread":${perQuery(t => f"${t.mad}%.3f")},"outliers":${list(timings.filter(_.flagged).map(_.name))},"plan_drift":${nullable(planDrift)},"bytes_drift":${nullable(bytesDrift)},"failed":${list(failed)}$res,"sf":"$sfDir"}"""
    }
  }

  private def flagged(ts: Seq[Double]): Boolean =
    ts.max > 2.0 * ts.min && ts.max - ts.min > 0.25

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def lastSegment(dir: String): Option[String] =
    dir.split('/').filter(_.nonEmpty).lastOption

  private def report(q: Q, e: Throwable): Unit =
    System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")

  /** Times `q` at `sfDir` over `nPasses` passes (plus a confirmation
    * pass when the spread flags); throws what a pass throws.
    */
  private def time(spark: SparkSession, q: Q, sfDir: String,
      nPasses: Int): Timing = {
    var lastDf: DataFrame = null
    // (wall s, build ms): build_ms is read from the clock inside the
    // pass, so the pass does no work it would not do anyway
    def pass(): (Double, Double) = {
      val t0 = System.nanoTime()
      val df = q.fn(spark, sfDir)
      val t1 = System.nanoTime()
      noop(df)
      val t2 = System.nanoTime()
      lastDf = df
      ((t2 - t0) / 1e9, (t1 - t0) / 1e6)
    }
    // pass 1 runs under the resource audit: shuffle/scan bytes and task
    // spread are DETERMINISTIC per (plan, data) — unlike wall time — so
    // one measured pass suffices. The clock stops before the
    // listener-bus drain, so the audit adds only the per-task-end
    // accumulator adds to the timed region.
    val (first, res) = ResourceAudit.measure(spark)(pass())
    var passes = (first +: (2 to nPasses).map(_ => pass())).sortBy(_._1)
    if (nPasses > 1 && flagged(passes.map(_._1))) // confirmation pass replaces worst
      passes = (passes.dropRight(1) :+ pass()).sortBy(_._1)
    val times = passes.map(_._1)
    val median = times(times.size / 2)
    val mad = times.map(t => math.abs(t - median)).sorted.apply(times.size / 2)
    // planning and the plan-shape fingerprint, once, from the last
    // pass's own DataFrame: a fresh q.fn would re-run its eager
    // checkpoint jobs just to be fingerprinted
    val t0 = System.nanoTime()
    lastDf.queryExecution.executedPlan
    val planMs = (System.nanoTime() - t0) / 1e6
    Timing(q.name, times.head, mad, flagged(times), res, passes.head._2,
      planMs, PlanFingerprint.hash(lastDf))
  }

  /** Warm every query up at [[WarmupDir]], then time each one at
    * `sfDir` with `auditPasses` passes for audit tiers (3 otherwise).
    * `q.fn` runs exactly once per warm-up and once per timed pass.
    */
  def record(spark: SparkSession, qs: Seq[Q], sfDir: String,
      auditPasses: Int): Record = {
    val warm = qs.filter { q =>
      try { noop(q.fn(spark, WarmupDir)); true }
      catch { case NonFatal(e) => report(q, e); false }
    }
    val timings = warm.flatMap { q =>
      val t =
        try Some(time(spark, q, sfDir, if (q.auditTier) auditPasses else 3))
        catch { case NonFatal(e) => report(q, e); None }
      // Inter-query hygiene (round 14, OUTSIDE every timed region): the
      // four sort-path rows' sf3 superlinearity measured in round 13
      // did not reproduce in isolation (asof_join_native 11.1 s
      // in-suite vs 2.3 s alone, same data/code/host) — the inflation
      // is state inherited from heavy NEIGHBORS (dead broadcast and
      // localCheckpoint blocks, old-gen residue; the ContextCleaner is
      // weak-reference-driven, so without a GC nudge a 24 g heap
      // carries it query to query). The per-query gc_ms resource metric
      // is the instrument that attributes what remains. `time` has
      // returned, so the query's DataFrames are unreachable here.
      System.gc()
      t
    }
    val timed = timings.map(_.name).toSet
    // plan-shape drift vs the committed fingerprint pin (when this
    // run's SF is a pinned label): a non-empty list means a headliner's
    // physical plan CHANGED since the pin — bench drift is then a plan
    // event, not host contention, and the adjudication is mechanical.
    // Exact final-segment match: a custom dir merely ENDING in a pinned
    // label (/data/mysf0.1) must not be drift-checked against the pin —
    // join strategies are data-size-dependent on unpinned data
    val lastSeg = lastSegment(sfDir)
    val sfLabel = PlanFingerprint.Sfs
      .collectFirst { case (l, d) if lastSeg.contains(l) || d == sfDir => l }
    val planDrift = sfLabel.flatMap { l =>
      val pin = PlanFingerprint.committed()
      if (pin.isEmpty) None
      else Some(timings.filter(t => pin.get((l, t.name)).exists(_ != t.planHash))
        .map(_.name))
    }
    // shuffle-byte drift vs the committed pin (tools.BytePins): bytes
    // are deterministic per (plan, data), so at a PINNED label a moved
    // byte count is a plan event (e.g. an AQE join-strategy flip) even
    // when the static fingerprint and wall clock are both silent.
    val bytePins = BytePins.committed()
    val curBytes = timings
      .map(t => t.name -> t.res.shuffleWriteBytes / (1024.0 * 1024.0)).toMap
    val bytesDrift = lastSeg
      .filter(l => bytePins.keys.exists(_._1 == l))
      .map(l => BytePins.drift(bytePins, l, curBytes))
    Record(sfDir, timings, qs.map(_.name).filterNot(timed),
      qs.filter(_.auditTier).map(_.name), planDrift, bytesDrift)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Leg-shaping controls for the sf3 gate legs (VERDICT r14 item 3 —
    // dedup_prefix_filter alone was 91% of the sf3 suite wall, ~90 min
    // of a leg's budget spent on a declared output-bound audit tier):
    //  - SPARK_GRAFT_BENCH_EXCLUDE: comma-separated names skipped for
    //    this run (the gate's flat sf3.0 leg drops the audit tiers —
    //    their flat-layout delta is already measured at flat sf1.0);
    //  - SPARK_GRAFT_AUDIT_PASSES: timed passes for auditTier queries
    //    (default 3 like everything else; the gate's sf3.0f32 leg uses
    //    1 — their bytes are deterministic on pass 1 and their walls
    //    are excluded from working-set totals anyway).
    // BytePins.drift iterates CURRENT queries, so an excluded query is
    // simply unchecked, never a false alarm.
    val exclude = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val auditPasses = sys.env.get("SPARK_GRAFT_AUDIT_PASSES")
      .map(_.toInt).getOrElse(3)
    val named = args.nonEmpty
    val qs = (if (named) args.toSeq.map(Registry.byName)
              else Registry.all.filter(_.bench)).filterNot(q => exclude(q.name))
    val spark = Graft.session()
    val rec = record(spark, qs, sfDir, auditPasses)
    // bench_last.json is the most recent headliner run;
    // bench_last_<label>.json is keyed by the SF-dir's last segment so a
    // multi-leg gate run preserves EVERY leg instead of the final one
    // overwriting the rest (ADVICE r14).
    if (!named) {
      val label = lastSegment(sfDir).getOrElse("unknown")
      Seq("tools/bench_last.json", s"tools/bench_last_$label.json")
        .foreach { rel =>
          try java.nio.file.Files.writeString(
            new java.io.File(BytePins.repoRoot, rel).toPath,
            rec.render(withResources = true) + "\n")
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] $rel write failed: ${e.getMessage}")
          }
        }
    }
    spark.stop()
    // the program's LAST stdout line, after spark.stop(), so a tail
    // capture always holds it whole
    println(rec.render(withResources = named))
    if (rec.failed.nonEmpty) sys.exit(1)
  }
}
