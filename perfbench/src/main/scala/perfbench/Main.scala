package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, its inputs' seed,
  * the recorded operations and, in a traced run, the tracer and the
  * per-layer numbers. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Option[Tracer], val work: Path, val sfDir: String,
    val headliners: Path, val warehouse: Path, corpus: Path) {
  val ops = new Ops
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private var genMs = 0.0
  private var setupS = Double.NaN
  private var deadline = Long.MaxValue

  def traced: Boolean = tracer.isDefined

  /** Time input generation, which set-up time excludes. */
  def generate[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally genMs += (System.nanoTime() - t0) / 1e6
  }

  /** Mark the first timed operation: set-up ends here, and the timed
    * phase runs for `seconds` from now. */
  def startTimed(): Unit = {
    // every run's timed phase starts from a collected heap
    System.gc()
    Ops.log("timed phase starts")
    val sinceStart = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime
    setupS = (sinceStart - genMs) / 1e3
    deadline = System.nanoTime() + seconds * 1000000000L
  }

  def setup: Double = setupS
  def remainingS: Double = (deadline - System.nanoTime()) / 1e9
  def dir(name: String): Path = work.resolve(name)

  /** The description corpus: sf0.1 `documents` text in doc_id order,
    * one text per line. */
  lazy val texts: IndexedSeq[String] = generate {
    Files.readAllLines(corpus, java.nio.charset.StandardCharsets.UTF_8)
      .toArray(Array.empty[String]).toIndexedSeq
  }
}

/** Entry point of one benchmark run:
  * `--workload <ingest|dashboard|operator_suite|warehouse> --seed <n> --seconds <s>
  *  --trace <0|1> --work <dir> --sf <dir> --headliners <file>
  *  --warehouse <dir> --corpus <file>`; the warehouse is the one the
  *  dashboard reads (workload `warehouse` builds it), the corpus holds
  *  the description texts.
  * Writes `record.json` into the work directory; `run.py` checks the
  * suite outputs, aggregates and prints the result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)
    val traced = need("trace") == "1"
    val seed = need("seed").toLong
    Ops.log("session")
    val spark = graft.Graft.session()
    Ops.log(s"$workload: set-up")
    val ctx = new Ctx(spark, seed, need("seconds").toInt,
      if (traced) Some(new Tracer(s"$workload-$seed")) else None,
      work, need("sf"), Paths.get(need("headliners")),
      Paths.get(need("warehouse")).toAbsolutePath, Paths.get(need("corpus")))
    // a run that cannot finish writes no record: the caller then fails
    try workload match {
      case "ingest" => Ingest.run(ctx)
      case "dashboard" => Dashboard.run(ctx)
      case "operator_suite" => Suite.run(ctx)
      case "warehouse" => Dashboard.prepare(ctx)
      case w => sys.error(s"unknown workload: $w")
    } catch { case e: Throwable =>
      e.printStackTrace()
      spark.stop()
      System.exit(1)
    }
    val record = Map(
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> traced,
      "setup_s" -> ctx.setup,
      "peak_rss_mb" -> peakRssMb,
      "env" -> env(spark),
      "info" -> ctx.info.toMap,
      "ops" -> ctx.ops.all,
      "layers" -> ctx.layers.toMap,
      "spans" -> ctx.tracer.map(_.spans.map(s => Map(
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "parent" -> s.parent, "run_id" -> s.runId, "counts" -> s.counts)))
        .getOrElse(Nil))
    Ops.log("stopping")
    spark.stop()
    Files.write(work.resolve("record.json"),
      Json.render(record).getBytes(StandardCharsets.UTF_8))
    System.exit(0)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def env(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "gc" -> ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
        .getName).mkString(","),
    "java" -> System.getProperty("java.runtime.version"),
    "spark" -> spark.version,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
}
