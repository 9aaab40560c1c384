package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed operation as measured. A failed operation keeps its error
  * and is never a latency sample. */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean,
    error: Option[String])

/** Runs and records the operations of one benchmark run.
  *
  * An operation fails when its body throws (any non-fatal exception) or
  * when its output check returns an error; either way it is recorded as
  * failed and its time is dropped. The check runs after the clock stops.
  */
final class Ops {
  private val buf = mutable.ArrayBuffer.empty[Op]

  def all: Seq[Op] = buf.toSeq

  /** Record an operation timed by the caller. */
  def add(op: Op): Unit = buf += op

  /** Time `body`, then check its result. Returns the result when both
    * succeed. */
  def run[T](kind: String, name: String)(body: => T)(
      check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val outcome =
      try Right(body)
      catch { case NonFatal(e) => Left(Ops.describe(e)) }
    val ms = (System.nanoTime() - t0) / 1e6
    val checked = outcome.flatMap { v =>
      (try check(v) catch { case NonFatal(e) => Some(Ops.describe(e)) })
        .toLeft(v)
    }
    buf += Op(kind, name, ms, checked.isRight, checked.left.toOption)
    Ops.log(f"$kind $name $ms%.1f ms ${checked.left.getOrElse("ok")}")
    checked.toOption
  }
}

object Ops {
  /** A progress line in the run's log. */
  def log(msg: String): Unit =
    println(s"[perfbench] ${java.time.LocalTime.now()} $msg")

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
      .linesIterator.take(3).mkString(" | ").take(400)

  /** `None` when `got == want`, else a message naming the quantity. */
  def expect[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None
    else Some(s"$what: got $got, want $want".take(400))

  /** The first error of several checks. */
  def firstError(checks: Option[String]*): Option[String] =
    checks.collectFirst { case Some(e) => e }
}

/** A small JSON writer: the record is flat maps of numbers and strings. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case op: Op =>
      render(Map("kind" -> op.kind, "name" -> op.name, "ms" -> op.ms,
        "ok" -> op.ok, "error" -> op.error))
    case other => str(other.toString)
  }
}
