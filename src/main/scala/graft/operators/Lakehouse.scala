package graft.operators

import graft.Q
import graft.functions.Nums._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse maintenance primitives — the table-format layer a 100 TB
  * deployment runs *around* the queries: applying CDC changelogs to a
  * base snapshot (MERGE INTO semantics) and the min/max file-statistics
  * index that decides which files a predicate never has to read
  * (Iceberg/Delta data skipping). The reference loads Postgres with
  * per-row get-or-create upserts (insert_to_postgres.py:60-84); these
  * are the set-based equivalents that survive when "the table" is a
  * million parquet files.
  *
  * The queries here are the ROW-level algebra (oracle-gated against
  * DuckDB over plain frames); the FILE-level mechanism they assume — a
  * real append-only snapshot log whose manifest bounds prune actual
  * scans — is [[graft.sources.ManifestLog]] (time travel opens only a
  * version's files; key-range probes drop non-intersecting files before
  * the scan; ManifestLogSpec asserts the input-file counts).
  */
object Lakehouse {

  /** Key offset mapping changelog user_ids onto the tail of the base
    * key space: the lower HALF of the user range lands on existing
    * keys (updates + deletes), the upper half past the end (inserts) —
    * all three MERGE cases at every scale factor. Both inputs are
    * 1-row scalar aggregates resolved driver-side (a scalar over a
    * dimension is not a corpus collect).
    */
  def keyOffset(s: SparkSession, dir: String): Long = {
    // getAs boxes to null on an empty input — default 0 keeps the
    // (necessarily empty) downstream plan executable
    val maxKey = Option(Tables.customer(s, dir)
      .agg(max(col("c_custkey"))).head.getAs[java.lang.Long](0))
      .map(_.longValue).getOrElse(-1L)
    val maxUser = Option(Tables.events(s, dir)
      .agg(max(col("user_id"))).head.getAs[java.lang.Long](0))
      .map(_.longValue).getOrElse(0L)
    maxKey + 1L - maxUser / 2L
  }

  /** CDC MERGE-apply: collapse a keyed changelog (ordered by event
    * time; 'error' events are tombstones, everything else an upsert
    * carrying the new value) to its last operation per key, then apply
    * it to the base snapshot in ONE full-outer join: unchanged rows
    * pass through, upserts overwrite or insert, tombstoned keys drop.
    * The window is partitioned per key (never global) and the join
    * shuffles each side once on the key — the same plan MERGE INTO
    * compiles to in Delta/Iceberg, and the batch twin of
    * [[graft.sources.Warehouse.upsertDims]]'s streaming get-or-create.
    */
  def cdcMergeApply(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir).select(
      col("c_custkey").as("key"),
      decp(col("c_acctbal")).as("base_val"),
      lit(1).as("in_base"))
    val off = keyOffset(s, dir)
    val w = Window.partitionBy(col("key"))
      .orderBy(col("t").desc, col("event_id").desc)
    val lastOp = Tables.events(s, dir)
      .select((col("user_id") + off).as("key"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        decp(col("value")).as("new_val"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("key"), col("op"), col("new_val"))
    base.join(lastOp, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        coalesce(col("new_val"), col("base_val")).cast("double").as("val"),
        when(col("op").isNull, "unchanged")
          .when(col("in_base").isNull, "inserted")
          .otherwise("updated").as("change"))
      .orderBy("key")
  }

  val cdcMergeApplySql: String =
    s"""WITH base AS (SELECT c_custkey AS key,
                        ${sqlDecp("c_acctbal")} AS base_val, 1 AS in_base
                      FROM customer),
       cl AS (SELECT user_id + (SELECT MAX(c_custkey) + 1 FROM customer)
                      - ((SELECT MAX(user_id) FROM events) // 2) AS key,
                CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                ${sqlDecp("value")} AS new_val,
                epoch_us(ts) AS t, event_id
              FROM events),
       lst AS (SELECT key, op, new_val FROM (
                 SELECT key, op, new_val,
                   ROW_NUMBER() OVER (PARTITION BY key
                     ORDER BY t DESC, event_id DESC) AS rn
                 FROM cl) r WHERE rn = 1)
       SELECT COALESCE(b.key, l.key) AS key,
              CAST(CAST(COALESCE(l.new_val, b.base_val) AS VARCHAR) AS DOUBLE)
                AS val,
              CASE WHEN l.op IS NULL THEN 'unchanged'
                   WHEN b.in_base IS NULL THEN 'inserted'
                   ELSE 'updated' END AS change
       FROM base b FULL OUTER JOIN lst l ON b.key = l.key
       WHERE l.op IS NULL OR l.op <> 'D'
       ORDER BY key"""

  /** Time-travel read — reconstruct the table AS OF a cut time from
    * the base snapshot plus the changelog PREFIX at or before the cut
    * (Delta/Iceberg `VERSION AS OF` semantics when versions are
    * timestamps): same last-writer-wins collapse and single full-outer
    * apply as [[cdcMergeApply]], with one extra pushed-down predicate
    * `t <= cut` on the changelog scan — at 100 TB that predicate
    * prunes log partitions before anything shuffles. Registered at the
    * midpoint of the event-time range (a deterministic, data-derived
    * cut both engines compute identically in integer microseconds);
    * the spec pins the algebra: cut >= max(ts) reproduces
    * [[cdcMergeApply]] exactly, cut < min(ts) reproduces the base.
    * (round 4)
    */
  def cdcTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val mm = Tables.events(s, dir)
      .agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).head
    val cut =
      if (mm.isNullAt(0)) 0L else (mm.getLong(0) + mm.getLong(1)) / 2L
    cdcTimeTravelAt(s, dir, cut)
  }

  private[operators] def cdcTimeTravelAt(s: SparkSession, dir: String,
      cutUs: Long): DataFrame = {
    val base = Tables.customer(s, dir).select(
      col("c_custkey").as("key"),
      decp(col("c_acctbal")).as("base_val"),
      lit(1).as("in_base"))
    val off = keyOffset(s, dir)
    val w = Window.partitionBy(col("key"))
      .orderBy(col("t").desc, col("event_id").desc)
    val lastOp = Tables.events(s, dir)
      .select((col("user_id") + off).as("key"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        decp(col("value")).as("new_val"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .filter(col("t") <= cutUs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("key"), col("op"), col("new_val"))
    base.join(lastOp, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        coalesce(col("new_val"), col("base_val")).cast("double").as("val"),
        when(col("op").isNull, "unchanged")
          .when(col("in_base").isNull, "inserted")
          .otherwise("updated").as("change"))
      .orderBy("key")
  }

  val cdcTimeTravelSql: String =
    s"""WITH cut AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
                       AS c FROM events),
       base AS (SELECT c_custkey AS key,
                  ${sqlDecp("c_acctbal")} AS base_val, 1 AS in_base
                FROM customer),
       cl AS (SELECT user_id + (SELECT MAX(c_custkey) + 1 FROM customer)
                      - ((SELECT MAX(user_id) FROM events) // 2) AS key,
                CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                ${sqlDecp("value")} AS new_val,
                epoch_us(ts) AS t, event_id
              FROM events
              WHERE epoch_us(ts) <= (SELECT c FROM cut)),
       lst AS (SELECT key, op, new_val FROM (
                 SELECT key, op, new_val,
                   ROW_NUMBER() OVER (PARTITION BY key
                     ORDER BY t DESC, event_id DESC) AS rn
                 FROM cl) r WHERE rn = 1)
       SELECT COALESCE(b.key, l.key) AS key,
              CAST(CAST(COALESCE(l.new_val, b.base_val) AS VARCHAR) AS DOUBLE)
                AS val,
              CASE WHEN l.op IS NULL THEN 'unchanged'
                   WHEN b.in_base IS NULL THEN 'inserted'
                   ELSE 'updated' END AS change
       FROM base b FULL OUTER JOIN lst l ON b.key = l.key
       WHERE l.op IS NULL OR l.op <> 'D'
       ORDER BY key"""

  /** Change-data-feed extraction — the INVERSE of [[cdcMergeApply]]:
    * given two snapshots (the base and the merged result), emit the
    * minimal changelog that turns one into the other (Delta CDF
    * semantics): keys only in the new snapshot are I, only in the old
    * are D, value changes are U; untouched keys emit nothing. One
    * full-outer join of two key-cardinality frames. Values compare as
    * doubles exactly because DECIMAL(14,4) embeds injectively in
    * binary64 (scaled value < 2^53). The spec pins the algebra:
    * applying this feed back to the base reproduces the new snapshot
    * row-for-row. (round 4)
    */
  def snapshotDiffCdf(s: SparkSession, dir: String): DataFrame = {
    val oldS = Tables.customer(s, dir).select(
      col("c_custkey").as("key"),
      decp(col("c_acctbal")).cast("double").as("old_val"))
    val newS = cdcMergeApply(s, dir)
      .select(col("key"), col("val").as("new_val"))
    oldS.join(newS, Seq("key"), "full_outer")
      .withColumn("op",
        when(col("old_val").isNull, "I")
          .when(col("new_val").isNull, "D")
          .when(col("old_val") =!= col("new_val"), "U"))
      .filter(col("op").isNotNull)
      .select(col("key"), col("op"), col("old_val"), col("new_val"))
      .orderBy("key")
  }

  val snapshotDiffCdfSql: String =
    s"""WITH olds AS (SELECT c_custkey AS key,
                        CAST(CAST(${sqlDecp("c_acctbal")} AS VARCHAR) AS DOUBLE)
                          AS old_val
                      FROM customer),
       news AS (SELECT key, val AS new_val FROM ($cdcMergeApplySql)),
       d AS (SELECT COALESCE(o.key, n.key) AS key, o.old_val, n.new_val,
               CASE WHEN o.old_val IS NULL THEN 'I'
                    WHEN n.new_val IS NULL THEN 'D'
                    WHEN o.old_val <> n.new_val THEN 'U' END AS op
             FROM olds o FULL OUTER JOIN news n ON o.key = n.key)
       SELECT key, op, old_val, new_val FROM d
       WHERE op IS NOT NULL ORDER BY key"""

  /** Simulated file count for the skipping index. */
  val NFiles = 32L

  /** Min/max data-skipping index under two write layouts: the same
    * rows assigned to [[NFiles]] "files" by key hash (arrival order —
    * no clustering) vs. by date range (the sorted write path). Per
    * file: row count, min/max order date, and whether a year-range
    * predicate could skip the file entirely (max < lo OR min > hi) —
    * the exact test Iceberg/Delta run against their manifests. The
    * range layout derives from a 1-row min/max broadcast + pure integer
    * arithmetic, NOT a global ntile window (which would funnel the
    * corpus through one task); at 100 TB the assignment is the write
    * path's range partitioner and the index build is one map-side-
    * combinable agg over (file, date) pairs. Date-sorted files skip
    * ~(span-1)/span of the data; hashed files skip nothing — the
    * measured argument for [[Curation.zorderKey]]-style layouts.
    */
  def dataSkippingStats(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
    // corpus date span as a driver-side scalar (1-row agg over a date
    // column — the manifest's own metadata at a real lakehouse); the
    // skip probe is the mid-span calendar year so the query is
    // scale-factor-agnostic
    val sp = o.agg(min(col("d")), max(col("d"))).head
    // epoch fallbacks keep the (necessarily empty) plan executable on
    // an empty corpus — the literals only shape expressions
    val dLo = Option(sp.getDate(0)).map(_.toLocalDate)
      .getOrElse(java.time.LocalDate.EPOCH)
    val dHi = Option(sp.getDate(1)).map(_.toLocalDate).getOrElse(dLo)
    val spanDays = java.time.temporal.ChronoUnit.DAYS.between(dLo, dHi) + 1L
    val probeYear = dLo.getYear + (dHi.getYear - dLo.getYear) / 2
    val ranged = o.select(col("o_orderkey"), col("d"),
      expr(s"(datediff(d, DATE '$dLo') * $NFiles) div ${spanDays}L")
        .as("file_id"),
      lit("date_ranged").as("layout"))
    val hashed = o.select(col("o_orderkey"), col("d"),
      pmod(col("o_orderkey"), lit(NFiles)).as("file_id"),
      lit("key_hash").as("layout"))
    ranged.unionByName(hashed)
      .groupBy("layout", "file_id")
      .agg(count(lit(1)).as("n"),
        min(col("d")).as("min_date"), max(col("d")).as("max_date"))
      .withColumn("can_skip",
        col("max_date") < lit(s"$probeYear-01-01").cast("date") ||
          col("min_date") > lit(s"$probeYear-12-31").cast("date"))
      .orderBy("layout", "file_id")
  }

  val dataSkippingStatsSql: String =
    s"""WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
                   FROM orders),
       sp AS (SELECT MIN(d) AS d_lo, MAX(d) AS d_hi,
                CAST(MAX(d) - MIN(d) AS BIGINT) + 1 AS span_days,
                year(MIN(d)) + (year(MAX(d)) - year(MIN(d))) // 2 AS py
              FROM o),
       assigned AS (
         SELECT o_orderkey, d,
           CAST(d - (SELECT d_lo FROM sp) AS BIGINT) * $NFiles
             // (SELECT span_days FROM sp) AS file_id,
           'date_ranged' AS layout
         FROM o
         UNION ALL
         SELECT o_orderkey, d,
           o_orderkey % $NFiles AS file_id, 'key_hash' AS layout
         FROM o)
       SELECT layout, file_id, COUNT(*) AS n,
              MIN(d) AS min_date, MAX(d) AS max_date,
              (MAX(d) < make_date(CAST((SELECT py FROM sp) AS INT), 1, 1)
                OR MIN(d) > make_date(CAST((SELECT py FROM sp) AS INT), 12, 31))
                AS can_skip
       FROM assigned GROUP BY layout, file_id
       ORDER BY layout, file_id"""

  /** Rows per compacted output bin. */
  val CompactTargetRows = 2000L

  /** Small-file compaction plan — the maintenance job that follows the
    * skipping index: pack adjacent small "files" (the per-file stats
    * frame of [[dataSkippingStats]]) into target-sized rewrite bins by
    * a deterministic running-sum assignment (bin = floor(preceding
    * mass / target)), preserving file order so the date-ranged
    * layout's clustering survives compaction. The plan runs on the
    * MANIFEST frame (file-cardinality, not row-cardinality) — at
    * 100 TB that is millions of stat rows, not the data itself; the
    * running sum partitions per layout (per table/partition in a real
    * lakehouse). Emits per-bin file counts, row mass, and the file
    * span to rewrite. (round 4)
    */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val files = dataSkippingStats(s, dir)
      .select(col("layout"), col("file_id"), col("n"))
    val w = Window.partitionBy(col("layout")).orderBy(col("file_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("bin", expr(s"(cum - n) div $CompactTargetRows"))
      .groupBy("layout", "bin")
      .agg(count(lit(1)).as("n_files"), sum(col("n")).as("total_rows"),
        min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
      .orderBy("layout", "bin")
  }

  val compactionPlanSql: String =
    s"""WITH files AS (SELECT layout, file_id, n
                       FROM ($dataSkippingStatsSql)),
       assigned AS (SELECT layout, file_id, n,
               (CAST(SUM(n) OVER (PARTITION BY layout ORDER BY file_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - n)
                 // $CompactTargetRows AS bin
             FROM files)
       SELECT layout, bin, COUNT(*) AS n_files,
              CAST(SUM(n) AS BIGINT) AS total_rows,
              MIN(file_id) AS first_file, MAX(file_id) AS last_file
       FROM assigned GROUP BY layout, bin ORDER BY layout, bin"""

  /** Incremental view maintenance (the DBSP/Materialize Z-set shape):
    * a per-user (count, revenue) view maintained by MERGING a base
    * aggregate with a signed delta aggregate instead of recomputing —
    * 'error' events carry sign -1 (retractions), everything else +1, so
    * the same algebra handles inserts AND deletes. The registered plan
    * IS the incremental pipeline: two signed partial aggregates (base
    * window / delta window) merged by one full-outer coalesce-add, keys
    * whose support reaches zero dropped (Z-set normalization); the
    * oracle computes the view DIRECTLY over all events — hash equality
    * is exactly the self-maintainability theorem (sum/count are
    * abelian-group aggregates, so view(base ∪ delta) = view(base) ⊕
    * view(delta)). At 100 TB the base agg is a STORED view-sized frame
    * — only the delta window's rows are ever scanned; here both sides
    * derive from the same table because the oracle needs replayable
    * inputs. All arithmetic exact: BIGINT signs, DECIMAL(14,4) value
    * mass, one final double cast. (round 5)
    */
  def ivmMergeDelta(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-24 00:00:00").cast("timestamp")
    val ev = Tables.events(s, dir).select(col("ts"), col("user_id"),
      when(col("event_type") === "error", lit(-1L)).otherwise(lit(1L))
        .as("sign"),
      decp(col("value")).as("v"))
    def view(df: DataFrame) = df.groupBy("user_id")
      .agg(sum(col("sign")).as("n"), sum(col("sign") * col("v")).as("t"))
    val base = view(ev.filter(col("ts") < cut))
      .select(col("user_id"), col("n").as("bn"), col("t").as("bt"))
    val delta = view(ev.filter(col("ts") >= cut))
      .select(col("user_id"), col("n").as("dn"), col("t").as("dt"))
    base.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n"),
        expr("CAST(coalesce(bt, 0) + coalesce(dt, 0) AS DOUBLE)")
          .as("total"))
      .filter(col("n") =!= 0L)
      .orderBy("user_id")
  }

  val ivmMergeDeltaSql: String =
    s"""SELECT user_id,
              CAST(SUM(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END)
                AS BIGINT) AS n,
              CAST(CAST(SUM((CASE WHEN event_type = 'error' THEN -1 ELSE 1 END)
                    * ${sqlDecp("value")}) AS VARCHAR) AS DOUBLE) AS total
       FROM events
       GROUP BY user_id
       HAVING SUM(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) <> 0
       ORDER BY user_id"""

  def queries: Seq[Q] = Seq(
    Q("ivm_merge_delta", Some(ivmMergeDeltaSql))(ivmMergeDelta),
    Q("cdc_merge_apply", Some(cdcMergeApplySql), bench = true)(cdcMergeApply),
    Q("cdc_time_travel", Some(cdcTimeTravelSql))(cdcTimeTravel),
    Q("snapshot_diff_cdf", Some(snapshotDiffCdfSql))(snapshotDiffCdf),
    Q("compaction_plan", Some(compactionPlanSql))(compactionPlan),
    Q("data_skipping_stats", Some(dataSkippingStatsSql))(dataSkippingStats))
}
