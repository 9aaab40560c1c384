package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator/query: the Spark implementation plus (when
  * SQL-expressible) the DuckDB oracle the driver hash-compares against.
  * `bench = true` marks headline queries Bench.scala times at sf0.1.
  * `auditTier = true` marks bench headliners whose cost is OUTPUT-bound
  * by design (exact zero-false-negative audit paths whose pair output
  * grows superlinearly with data — dedup_prefix_filter,
  * range_join_bucketed; each has a declared scale-safe sibling): Bench
  * and the gate tooling report them as separate labeled rows so suite
  * totals keep measuring the engine, not the audit output
  * (VERDICT r14 item 3).
  */
final case class Q(
    name: String,
    sql: Option[String],
    bench: Boolean = false,
    auditTier: Boolean = false)(
    val fn: (SparkSession, String) => DataFrame)

object Registry {
  def all: Seq[Q] =
    operators.Analytics.queries ++
      operators.Cleaning.queries ++
      operators.StarSchema.queries ++
      operators.SkillExtract.queries ++
      operators.Enrich.queries ++
      operators.Dedup.queries ++
      operators.Similarity.queries ++
      operators.TextAnalysis.queries ++
      operators.Temporal.queries ++
      operators.Stats.queries ++
      operators.Curation.queries ++
      operators.Chunking.queries ++
      operators.Graph.queries ++
      operators.DataQuality.queries ++
      operators.Inference.queries ++
      operators.Lakehouse.queries ++
      operators.EntityRes.queries ++
      operators.Multimodal.queries

  def byName(name: String): Q =
    all.find(_.name == name).getOrElse(sys.error(s"unknown query: $name"))
}
