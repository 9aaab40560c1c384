package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** One span of the traced run. Times are milliseconds since the run's
  * clock origin; `parent` names the enclosing span. */
final case class Span(name: String, startMs: Double, endMs: Double,
    parent: String, runId: String, counts: Map[String, Double]) {
  def ms: Double = endMs - startMs
}

/** Spans kept in memory for the whole traced run and written at its end.
  * Spans come from the benchmark's own calls into each layer; the
  * engine is never edited to produce them. */
final class Tracer(val runId: String) {
  private val origin = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[String]("run")

  def nowMs: Double = (System.nanoTime() - origin) / 1e6
  /** A listener event's wall-clock time on this tracer's clock. */
  def atEpoch(epochMs: Long): Double = (epochMs - originEpochMs).toDouble
  def spans: Seq[Span] = buf.toSeq

  def add(s: Span): Unit = buf += s

  /** Time `body` as a span under the current one; `counts` are read
    * from its result after it returns. */
  def span[T](name: String)(body: => T)(
      counts: T => Map[String, Double] = (_: T) => Map.empty[String, Double])
      : (T, Double) = {
    val parent = stack.top
    stack.push(name)
    val t0 = nowMs
    val v = try body finally stack.pop()
    val t1 = nowMs
    buf += Span(name, t0, t1, parent, runId, counts(v))
    (v, t1 - t0)
  }
}

/** Listener view of one traced region: one record per SQL execution,
  * with the jobs, tasks and shuffle bytes its jobs ran. An execution is
  * named by the table it writes (the last path segment of its insert
  * target), else by its root operator. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  final case class Exec(id: Long, name: String, startMs: Double,
      var endMs: Double = Double.NaN, var jobs: Int = 0, var tasks: Long = 0,
      var shuffleWriteBytes: Long = 0, var spillBytes: Long = 0)

  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val stageToExec = mutable.Map.empty[Int, Long]
  @volatile var jobs = 0

  // the insert node's details section: "(n) Execute Insert...\n...
  // Arguments: file:/.../<table>, ..."
  private val Target =
    "(?s)\\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: (?:file:)?([^\\s,]+)".r

  private def nameOf(plan: String, description: String): String =
    Target.findFirstMatchIn(plan)
      .map(_.group(1).stripSuffix("/").split('/').last)
      .getOrElse(description.linesIterator.nextOption().getOrElse("query"))

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execs(e.executionId) =
          Exec(e.executionId, nameOf(e.physicalPlanDescription, e.description),
            tracer.atEpoch(e.time))
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.endMs = tracer.atEpoch(e.time))
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).flatMap(execs.get).foreach { x =>
        x.jobs += 1
        j.stageIds.foreach(stageToExec(_) = x.id)
      }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageToExec.get(t.stageId); x <- execs.get(id)
         if t.taskMetrics != null) {
      val m = t.taskMetrics
      x.tasks += 1
      x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def executions: Seq[Exec] = synchronized(execs.values.toSeq)

  /** The executions as spans under `parent`. */
  def spans(parent: String): Seq[Span] = executions.map { x =>
    Span(s"sql:${x.name}", x.startMs, x.endMs, parent, tracer.runId,
      Map("jobs" -> x.jobs.toDouble, "tasks" -> x.tasks.toDouble,
        "shuffle_write_bytes" -> x.shuffleWriteBytes.toDouble,
        "spill_bytes" -> x.spillBytes.toDouble))
  }
}

object ExecListener {
  /** Run `body` with a fresh listener attached; the listener bus is
    * drained (through the engine's resource audit, which also returns
    * the task metrics) before the listener is read. */
  def around[T](spark: SparkSession, tracer: Tracer)(body: => T)
      : (T, ExecListener, graft.tools.ResourceMetrics) = {
    val l = new ExecListener(tracer)
    spark.sparkContext.addSparkListener(l)
    try {
      val (v, m) = graft.tools.ResourceAudit.measure(spark)(body)
      (v, l, m)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
