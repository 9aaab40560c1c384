package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Aggregated task-level resource metrics for one measured action —
  * the observability tier behind the engine's scale claims. Plans argue
  * "one shuffle per aggregation" and "the filter reaches the scan";
  * these numbers MEASURE it per query per round: a plan regression that
  * doubles shuffle volume or un-pushes a filter moves `shuffleWriteBytes`
  * / `inputBytes` even when wall clock hides inside host-contention
  * noise (the round-9..12 bench-plateau ambiguity this tier exists to
  * end). The reference ships Prometheus node/container monitoring
  * (reference: prometheus.yml:1); a query engine's equivalent is
  * per-query task metrics, which Spark already accumulates — this just
  * scopes them to one action. `compiles` counts the generated classes
  * Janino compiled while the action ran (a codegen-cache miss each).
  */
final case class ResourceMetrics(
    tasks: Long,
    taskTimeMs: Long,
    peakTaskMs: Long,
    inputBytes: Long,
    inputRecords: Long,
    shuffleReadBytes: Long,
    shuffleReadRecords: Long,
    shuffleWriteBytes: Long,
    shuffleWriteRecords: Long,
    spillBytes: Long,
    gcTimeMs: Long,
    compiles: Long) {

  /** Straggler factor: slowest task vs the mean task — the number a
    * 1000-executor cluster's wall clock is hostage to (1.0 = perfectly
    * level; >> 1 = skew or a serialized stage). */
  def taskSpread: Double =
    if (tasks == 0L) 1.0
    else peakTaskMs.toDouble / math.max(taskTimeMs.toDouble / tasks, 1e-9)
}

object ResourceAudit {

  /** Run `action` and return it with the task metrics of every task the
    * session completed while it ran. Scoping is by listener lifetime:
    * exact when jobs run serially (Verify's concurrent pool would
    * co-mingle neighbors — use from serial paths like Bench/audits).
    * The listener bus is drained before the snapshot, so the action's
    * final tasks are never undercounted; the drain happens OUTSIDE any
    * caller timing of `action` itself. `compiles` is the difference of
    * the JVM-wide `CodegenMetrics` compile count around `action`, so it
    * has the same serial-use scope.
    */
  def measure[T](spark: SparkSession)(action: => T): (T, ResourceMetrics) = {
    val tasks, taskTime, peakTask, inBytes, inRecs, srBytes, srRecs,
      swBytes, swRecs, spill, gcMs = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          tasks.incrementAndGet()
          taskTime.addAndGet(m.executorRunTime)
          peakTask.getAndUpdate(cur => math.max(cur, m.executorRunTime))
          inBytes.addAndGet(m.inputMetrics.bytesRead)
          inRecs.addAndGet(m.inputMetrics.recordsRead)
          srBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          srRecs.addAndGet(m.shuffleReadMetrics.recordsRead)
          swBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          swRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          gcMs.addAndGet(m.jvmGCTime)
        }
      }
    }
    val sc = spark.sparkContext
    // Drain BEFORE attaching: Spark's AsyncEventQueue delivers queued-
    // but-undispatched events to listeners registered at dispatch time,
    // so task-end events still in flight from the PRECEDING query (the
    // callers run queries back to back) would otherwise be attributed
    // to this measurement — the scope must start from an empty bus for
    // the 'deterministic per (plan, data)' claim to hold.
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    val compiledBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val result = action
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiledBefore
      org.apache.spark.graftbridge.ListenerBridge.drain(sc)
      (result, ResourceMetrics(tasks.get, taskTime.get, peakTask.get,
        inBytes.get, inRecs.get, srBytes.get, srRecs.get,
        swBytes.get, swRecs.get, spill.get, gcMs.get, compiled))
    } finally sc.removeSparkListener(listener)
  }
}

/** Committed per-(SF label, query) shuffle-write pins and the drift rule
  * — the BYTES twin of the plan-fingerprint pin. The round-13 gate
  * proved byte deltas are plan events the fingerprint cannot see
  * (q5_region_revenue's AQE broadcast->SMJ flip moved 0.02 -> 411 MB at
  * sf3 with wall clock and plan_drift both silent), so Bench asserts
  * the same way it asserts plan shape: a non-empty `bytes_drift` list
  * means a headliner's shuffle volume left its pinned envelope since
  * the pin was taken — a plan event to adjudicate, then re-pin
  * (tools/pin_bytes.py regenerates from gate logs).
  */
object BytePins {
  /** The repo root (shared with the fingerprint pin) — also where
    * Bench drops its committed bench_last.json record. */
  def repoRoot: java.io.File = PlanFingerprint.root

  def pinFile: java.io.File = new java.io.File(
    repoRoot, "src/test/resources/bench_bytes.txt")

  /** (sf label, cores, query) -> pinned shuffle_write_mb. Shuffle
    * volumes depend on the partition count, which follows the session's
    * cores, so each core count carries its own pin set. Empty map = no
    * pins (callers must render null/unchecked, never an empty clean
    * list). */
  def committed(): Map[(String, Int, String), Double] = {
    val f = pinFile
    if (!f.exists()) Map.empty
    else scala.util.Using.resource(scala.io.Source.fromFile(f)) { src =>
      src.getLines().filter(_.nonEmpty).map { l =>
        val Array(sf, cores, n, mb) = l.split(" ")
        (sf, cores.toInt, n) -> mb.toDouble
      }.toMap
    }
  }

  /** Drift rule: a query drifts when its shuffle-write moved more than
    * 1 MB in absolute terms AND the ratio to the pin (denominators
    * floored at 0.5 MB so a broadcast->shuffle flip from ~0 is caught
    * as a huge ratio, not a 0-division) leaves [0.7, 1.4] — the band
    * the round-13 findings calibrate: same-plan re-runs sit within a
    * few percent, while the flagged events moved x8-x47. None — unchecked,
    * never an empty clean list — when `label` has no pins for `cores`.
    */
  def drift(pins: Map[(String, Int, String), Double], label: String,
      cores: Int, current: Map[String, Double]): Option[Seq[String]] =
    if (!pins.keys.exists(k => k._1 == label && k._2 == cores)) None
    else Some(current.toSeq.sortBy(_._1).flatMap { case (q, cur) =>
      pins.get((label, cores, q)).flatMap { pin =>
        val ratio = math.max(cur, 0.5) / math.max(pin, 0.5)
        if (math.abs(cur - pin) > 1.0 && (ratio < 0.7 || ratio > 1.4))
          Some(q)
        else None
      }
    })
}
