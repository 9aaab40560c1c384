package graft.operators

import graft.Q
import graft.functions.Keys
import graft.functions.Nums._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal operators: as-of join, sessionization, tumbling-window
  * aggregation (the batch twin of the streaming path).
  *
  * Time axis is epoch MICROSECONDS as BIGINT everywhere (events.ts is
  * parquet TIMESTAMP(NANOS); integer division truncates exactly like the
  * oracle's epoch_us) — integer comparisons are engine-portable where raw
  * NTZ timestamps are not (SURVEY.md §5).
  */
object Temporal {

  /** As-of join (most-recent-order-at-or-before-event), re-expressed the
    * Spark-native way: tag orders and events into ONE stream, sort each
    * user's timeline once (a single shuffle on the key), and let
    * `last(ignoreNulls)` carry the latest order forward over event rows.
    * This is O(n log n) per key with no range-join blow-up — the shape
    * that survives 100 TB, unlike a theta-join on (key, t_a <= t_b).
    * Orders are pre-deduped to one per (custkey, date) with a max-key
    * tie-break so the match is uniquely defined (DuckDB's ASOF JOIN
    * otherwise picks an arbitrary row among time ties).
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .select(col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"),
        col("o_orderkey").as("okey"), lit(null).cast("long").as("event_id"),
        lit(0).as("tag"))
    val ev = Tables.events(s, dir)
      .select(col("user_id").as("k"), unix_micros(col("ts")).as("t"),
        lit(null).cast("long").as("okey"), col("event_id"), lit(1).as("tag"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    od.unionByName(ev)
      .select(col("k"), col("t"), col("event_id"), col("tag"),
        last(col("okey"), ignoreNulls = true).over(w).as("o_orderkey"),
        when(last(col("okey"), ignoreNulls = true).over(w).isNotNull,
          last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(w))
          .as("o_t_us"))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("k").as("user_id"), col("t").as("ts_us"),
        col("o_orderkey"), col("o_t_us"))
      .orderBy("event_id")
  }

  /** The same as-of join through the custom whole-operator route:
    * [[graft.plans.AsOfJoinNode]] → AsOfJoinStrategy → AsOfJoinExec
    * (logical plan + strategy + physical merge pass). Unlike the
    * tagged-union form above, neither side is widened with the other's
    * columns before its shuffle and there is no window state — each
    * side shuffles itself once, clustered on its key, and one forward
    * merge per partition emits the latest order at-or-before each
    * event. Same oracle as `asof_join`; the two implementations gate
    * each other.
    */
  def asofJoinNative(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .select(col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_t_us"),
        col("o_orderkey"))
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    graft.plans.AsOfJoinPlan.asof(ev, od, "user_id", "k", "ts_us", "o_t_us")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_orderkey"), col("o_t_us"))
      .orderBy("event_id")
  }

  val asofJoinSql: String =
    """WITH od AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
                   FROM orders GROUP BY 1, 2)
       SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
              o.o_orderkey, epoch_us(o.o_orderdate) AS o_t_us
       FROM events e ASOF LEFT JOIN od o
         ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
       ORDER BY event_id"""

  /** As-of tolerance: 8400 days in micros (the corpus' event-to-order
    * gaps run ~8200-8800 days, so the bound genuinely splits matches).
    */
  private val TolUs = 8400L * 86400L * 1000000L

  /** As-of join with a TOLERANCE bound (pandas merge_asof / kdb wj
    * semantics): the latest order at-or-before the event matches only
    * if it is within the tolerance window; staler state is treated as
    * no match. Composes the plain as-of (the latest candidate has the
    * smallest gap, so "latest within tolerance" ≡ "latest, if within
    * tolerance") — one extra map-side conditional, no new shuffle. The
    * oracle can't extend DuckDB's ASOF JOIN (one inequality only), so
    * it uses the explicit left-join + rank form.
    */
  def asofJoinTolerance(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_t_us").isNotNull && col("ts_us") - col("o_t_us") <= TolUs
    asofJoin(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(ok, col("o_orderkey")).as("o_orderkey"),
        when(ok, col("o_t_us")).as("o_t_us"))
      .orderBy("event_id")
  }

  /** Tolerance oracle rides DuckDB's native ASOF JOIN + a gap CASE —
    * value-identical to the explicit left-join + rank form it replaced
    * (an OLDER order always has a LARGER gap, so "latest within
    * tolerance" ≡ "latest, nulled when out of tolerance"), but
    * O(events) instead of O(joined pairs): the rank form took ~13 min
    * per run at the sf1.0 gate, this takes seconds. Equivalence is
    * re-proven by parity at every SF on each sweep.
    */
  val asofJoinToleranceSql: String =
    s"""WITH od AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
                    FROM orders GROUP BY 1, 2),
       m AS (SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
               o.o_orderkey, epoch_us(o.o_orderdate) AS o_t_us
             FROM events e ASOF LEFT JOIN od o
               ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
       SELECT event_id, user_id, ts_us,
         CASE WHEN ts_us - o_t_us <= $TolUs THEN o_orderkey END AS o_orderkey,
         CASE WHEN ts_us - o_t_us <= $TolUs THEN o_t_us END AS o_t_us
       FROM m ORDER BY event_id"""

  /** FORWARD as-of join (pandas merge_asof direction='forward'): for
    * each order, the customer's EARLIEST event at-or-after the order
    * date — "first activity after the order". The same tagged-union
    * single-sort shape as [[asofJoin]] run in reverse time order, with
    * `last(ignoreNulls)` carrying the next event backward onto order
    * rows; events tag-sort before orders at timestamp ties (an event at
    * exactly t matches). Customers outside the event population yield
    * honest no-match rows.
    */
  def asofJoinForward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id").as("k"), unix_micros(col("ts")).as("t"),
        col("event_id"), lit(null).cast("long").as("okey"), lit(0).as("tag"))
    val od = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(min(col("o_orderkey")).as("o_orderkey"))
      .select(col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"),
        lit(null).cast("long").as("event_id"), col("o_orderkey").as("okey"),
        lit(1).as("tag"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").desc, col("tag"), col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(od)
      .select(col("k"), col("t"), col("okey"), col("tag"),
        last(col("event_id"), ignoreNulls = true).over(w).as("event_id"),
        when(last(col("event_id"), ignoreNulls = true).over(w).isNotNull,
          last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(w))
          .as("ev_t_us"))
      .filter(col("tag") === 1)
      .select(col("okey").as("o_orderkey"), col("k").as("o_custkey"),
        col("t").as("o_t_us"), col("event_id"), col("ev_t_us"))
      .orderBy("o_orderkey")
  }

  /** Forward oracle rides the native ASOF JOIN too (same O(pairs) →
    * O(rows) motivation as [[asofJoinToleranceSql]]): events pre-dedup
    * per (user, ts) to the MIN event_id, which makes the ASOF pick
    * tie-free and identical to the old rank form's (ts ASC, event_id
    * ASC) choice — among events at the matched timestamp the rank form
    * kept exactly the min event_id.
    */
  val asofJoinForwardSql: String =
    """WITH od AS (SELECT o_custkey, o_orderdate, min(o_orderkey) AS o_orderkey
                   FROM orders GROUP BY 1, 2),
       ev AS (SELECT user_id, ts, min(event_id) AS event_id
              FROM events GROUP BY 1, 2)
       SELECT od.o_orderkey, od.o_custkey,
              epoch_us(od.o_orderdate) AS o_t_us,
              e.event_id, epoch_us(e.ts) AS ev_t_us
       FROM od ASOF LEFT JOIN ev e
         ON od.o_custkey = e.user_id AND od.o_orderdate <= e.ts
       ORDER BY o_orderkey"""

  /** Time-weighted average of `value` per user (the kdb/Influx `twa`):
    * each observation is weighted by how long it was current — the
    * honest mean of an irregularly-sampled signal, where the arithmetic
    * mean over-weights bursts. Weights are exact integer microsecond
    * durations (lead over one partitioned sort), products accumulate in
    * DECIMAL, and the single division happens at the end — bit-portable
    * like every other aggregate here. The last observation per user
    * carries zero weight (nothing is known after it).
    */
  def timeWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        decp(col("value")).as("v"), col("event_id"))
      .withColumn("dur",
        coalesce(lead(col("t"), 1).over(w) - col("t"), lit(0L)))
      .groupBy("user_id")
      // a single-instant user has zero span: NULL, not a zero-division
      // (the ANSI rule — ConstantCorpusSpec pins the class)
      .agg(
        when(sum(col("dur")) > 0,
          sum(col("v") * col("dur").cast("decimal(19,0)")).cast("double") /
            sum(col("dur")).cast("double")).as("twa"),
        sum(col("dur")).as("span_us"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  val timeWeightedAvgSql: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t,
                     ${sqlDecp("value")} AS v, event_id
                   FROM events),
       d AS (SELECT user_id, v,
               COALESCE(LEAD(t, 1) OVER (PARTITION BY user_id
                 ORDER BY t, event_id) - t, 0) AS dur
             FROM e)
       SELECT user_id,
              CASE WHEN SUM(dur) > 0 THEN
                CAST(CAST(SUM(v * CAST(dur AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(SUM(dur) AS BIGINT) AS DOUBLE) END AS twa,
              CAST(SUM(dur) AS BIGINT) AS span_us, COUNT(*) AS n_events
       FROM d GROUP BY user_id ORDER BY user_id"""

  /** [[asofJoinTolerance]] through the custom AsOfJoinExec (tolerance
    * evaluated inside the merge pass — no post-filter pass; same
    * oracle, the two implementations gate each other).
    */
  def asofJoinToleranceNative(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .select(col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_t_us"),
        col("o_orderkey"))
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    graft.plans.AsOfJoinPlan.asof(ev, od, "user_id", "k", "ts_us", "o_t_us",
      toleranceUs = Some(TolUs))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_orderkey"), col("o_t_us"))
      .orderBy("event_id")
  }

  /** [[asofJoinForward]] through the custom AsOfJoinExec
    * (`forward = true`: both sides merge in descending time order and
    * the candidate rule flips to earliest-at-or-after).
    */
  def asofJoinForwardNative(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(min(col("o_orderkey")).as("o_orderkey"))
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_t_us"),
        col("o_orderkey"))
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id").as("uid"),
        unix_micros(col("ts")).as("ev_t_us"))
    graft.plans.AsOfJoinPlan.asof(od, ev, "o_custkey", "uid",
      "o_t_us", "ev_t_us", forward = true)
      .select(col("o_orderkey"), col("o_custkey"), col("o_t_us"),
        col("event_id"), col("ev_t_us"))
      .orderBy("o_orderkey")
  }

  /** Session gap threshold: 30 minutes, in microseconds. */
  private val GapUs = 1800L * 1000000L

  /** Event rows with their gap-analysis session id — the shared first
    * stage of [[sessionize]] and [[topEventPaths]].
    */
  private def sessionizedEvents(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("value"))
      .withColumn("new_sess",
        when(col("t") - lag(col("t"), 1).over(w) > GapUs ||
          lag(col("t"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Sessionization via gap analysis: per user, a new session starts
    * when the gap to the previous event exceeds 30 min; session id is the
    * running count of starts. One shuffle on user_id; both windows share
    * the same (user, time) sort order so Spark plans a single sort.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val flagged = sessionizedEvents(s, dir)
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(min(col("t")).as("start_us"), max(col("t")).as("end_us"),
        count(lit(1)).as("n_events"),
        dsum(decp(col("value"))).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  val sessionizeSql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events),
       flagged AS (
         SELECT user_id, event_id, t, value,
           CASE WHEN t - LAG(t, 1) OVER w > $GapUs
                  OR LAG(t, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       sess AS (
         SELECT user_id, event_id, t, value,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM flagged)
       SELECT user_id, session_id, min(t) AS start_us, max(t) AS end_us,
              COUNT(*) AS n_events, ${sqlDsum(sqlDecp("value"))} AS sum_value
       FROM sess GROUP BY user_id, session_id
       ORDER BY user_id, session_id"""

  /** Top session PATHS — the event-sequence analytic on top of
    * sessionization: each session renders as its time-ordered event-type
    * string ("view>click>purchase"), counted across the corpus. The
    * path builds array-side per session (sorted struct collect, one agg
    * on the already-sessionized frame); only (path, count) survives to
    * the final top-k. Deterministic: struct sort orders by (t,
    * event_id), the global ORDER BY ties on path.
    */
  def topEventPaths(s: SparkSession, dir: String): DataFrame =
    sessionizedEvents(s, dir)
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("t"), col("event_id"),
          col("event_type")))), x => x.getField("event_type")), ">")
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)

  val topEventPathsSql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
                   FROM events),
       flagged AS (
         SELECT user_id, event_id, event_type, t,
           CASE WHEN t - LAG(t, 1) OVER w > $GapUs
                  OR LAG(t, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       sess AS (
         SELECT user_id, event_id, event_type, t,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM flagged),
       paths AS (
         SELECT user_id, session_id,
                string_agg(event_type, '>' ORDER BY t, event_id) AS path
         FROM sess GROUP BY user_id, session_id)
       SELECT path, COUNT(*) AS n FROM paths
       GROUP BY path ORDER BY n DESC, path LIMIT 20"""

  /** Per-user session rollup — the engagement-profile layer above
    * [[sessionize]]: session count, bounce (single-event) sessions,
    * total/max events, and mean session duration in seconds. Durations
    * sum as exact BIGINT microseconds; the mean is two IEEE divisions
    * on exact operands (identical sequence in the oracle). Groups the
    * already-sessionized frame one level higher, so at scale it rides
    * the same per-user partitioning as sessionize itself — no new
    * corpus pass, one user-cardinality aggregate. (round 4)
    */
  def sessionStats(s: SparkSession, dir: String): DataFrame =
    sessionize(s, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
        sum(col("n_events")).as("total_events"),
        max(col("n_events")).as("max_session_events"),
        ((sum(col("end_us") - col("start_us")).cast("double") /
          count(lit(1)).cast("double")) / lit(1000000.0))
          .as("mean_session_secs"))
      .orderBy("user_id")

  val sessionStatsSql: String =
    s"""SELECT user_id, COUNT(*) AS n_sessions,
              CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bounce,
              CAST(SUM(n_events) AS BIGINT) AS total_events,
              MAX(n_events) AS max_session_events,
              (CAST(SUM(end_us - start_us) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE)) / 1000000.0 AS mean_session_secs
       FROM ($sessionizeSql) s
       GROUP BY user_id ORDER BY user_id"""

  /** Point-in-time lookup against an SCD2 dimension — the canonical
    * warehouse join [[scd2Intervals]] exists to serve: each fact row
    * (here: error events) resolves the dimension version valid AT its
    * timestamp ("what was the user doing when the error occurred" —
    * the dimension is built from the NON-error activity runs). The
    * join is an equi-join on the key with the interval containment
    * [valid_from, valid_to) as a join filter: per-key version lists
    * are small by SCD2 construction, so at 100 TB this shuffles on the
    * key exactly like any fact-dim join — never an interval cross
    * product. Half-open intervals guarantee at most one match; facts
    * before the first version keep honest NULLs (left join). (round 4)
    */
  def scd2PointLookup(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.events(s, dir).filter(col("user_id") % 20 === 0)
    val dim = scd2Runs(slice.filter(col("event_type") =!= "error"))
      .select(col("user_id").as("d_user"), col("event_type").as("phase"),
        col("valid_from"), col("valid_to"))
    val facts = slice.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
    facts.join(dim,
        col("user_id") === col("d_user") &&
          col("valid_from") <= col("t") &&
          (col("valid_to").isNull || col("t") < col("valid_to")),
        "left")
      .select(col("user_id"), col("event_id"), col("t"),
        col("phase"), col("valid_from").as("phase_from"))
      .orderBy("user_id", "event_id")
  }

  val scd2PointLookupSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
                  FROM events WHERE user_id % 20 = 0),
       ne AS (SELECT * FROM e WHERE event_type <> 'error'),
       flagged AS (
         SELECT user_id, event_id, event_type, t,
           CASE WHEN LAG(event_type, 1) OVER w IS NULL
                  OR LAG(event_type, 1) OVER w <> event_type
                THEN 1 ELSE 0 END AS chg
         FROM ne WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       runs AS (
         SELECT user_id, event_type, t,
           CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS run_id
         FROM flagged),
       grouped AS (
         SELECT user_id, run_id, event_type AS phase,
                MIN(t) AS valid_from
         FROM runs GROUP BY user_id, run_id, event_type),
       dim AS (
         SELECT user_id AS d_user, phase, valid_from,
           LEAD(valid_from, 1) OVER (PARTITION BY user_id
                                     ORDER BY valid_from) AS valid_to
         FROM grouped),
       facts AS (SELECT user_id, event_id, t FROM e
                 WHERE event_type = 'error')
       SELECT f.user_id, f.event_id, f.t, d.phase,
              d.valid_from AS phase_from
       FROM facts f LEFT JOIN dim d
         ON f.user_id = d.d_user AND d.valid_from <= f.t
        AND (d.valid_to IS NULL OR f.t < d.valid_to)
       ORDER BY user_id, event_id"""

  /** Attribution window length for the first-touch view lookback. */
  val AttributionLookbackUs: Long = 7L * 86400L * 1000000L

  /** First/last-touch attribution per conversion: for every purchase,
    * the most recent click strictly before it (conditional MAX over a
    * ROWS frame ending 1 before current) and the earliest view inside
    * a 7-day lookback (conditional MIN over a RANGE frame on the
    * microsecond axis — gap-honest, unlike a row count). Both windows
    * partition per user and run over the already-narrow (user, t,
    * type) projection; conversions keep honest NULLs when no touch
    * qualifies. The marketing-funnel twin of [[asofJoin]]: same
    * most-recent-predecessor semantics, expressed as frames instead of
    * a join because source and target share one timeline. (round 4)
    */
  def attributionFirstLast(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    val wRows = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRange = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-AttributionLookbackUs, Window.currentRow)
    e.withColumn("last_click_us",
        max(when(col("event_type") === "click", col("t"))).over(wRows))
      .withColumn("first_view_7d_us",
        min(when(col("event_type") === "view", col("t"))).over(wRange))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("t"),
        col("last_click_us"), col("first_view_7d_us"),
        (col("last_click_us").isNotNull &&
          col("first_view_7d_us").isNotNull).as("fully_attributed"))
      .orderBy("event_id")
  }

  val attributionFirstLastSql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
                   FROM events),
       att AS (
         SELECT user_id, event_id, event_type, t,
           MAX(CASE WHEN event_type = 'click' THEN t END) OVER
             (PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS last_click_us,
           MIN(CASE WHEN event_type = 'view' THEN t END) OVER
             (PARTITION BY user_id ORDER BY t
              RANGE BETWEEN $AttributionLookbackUs PRECEDING AND CURRENT ROW)
             AS first_view_7d_us
         FROM e)
       SELECT event_id, user_id, t, last_click_us, first_view_7d_us,
              (last_click_us IS NOT NULL AND first_view_7d_us IS NOT NULL)
                AS fully_attributed
       FROM att WHERE event_type = 'purchase'
       ORDER BY event_id"""

  /** Activity-window length for the interval union. */
  val ActivityWindowUs: Long = 5L * 60L * 1000000L

  /** Interval-union coverage ("active time"): each event opens a 5-min
    * activity window [t, t+5min); overlapping/touching windows per
    * user merge, and the user's active time is the total length of the
    * merged union — the classic interval-union problem, solved with
    * the running-max island technique: a window starts a new island
    * iff it begins strictly after the max end seen so far (conditional
    * running max over a ROWS-to-1-preceding frame), islands get
    * running-sum ids, and each island contributes max(end)-min(start).
    * Every window partitions per user; arithmetic is exact integer
    * microseconds until one final division. Naive alternatives are
    * O(n²) self-joins or double-counting sums — this is the shape that
    * scales. (round 4)
    */
  def intervalUnionLength(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("s_us"), col("event_id"))
    val iv = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + ActivityWindowUs).as("e_us"))
    iv
      .withColumn("prev_max",
        max(col("e_us")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_isl",
        when(col("prev_max").isNull || col("s_us") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_isl"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s_us")).as("isl_s"), max(col("e_us")).as("isl_e"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("isl_e") - col("isl_s")).as("active_us"))
      .select(col("user_id"), col("n_islands"),
        (col("active_us").cast("double") / lit(1000000.0)).as("active_s"))
      .orderBy("user_id")
  }

  val intervalUnionLengthSql: String =
    s"""WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s_us,
                      epoch_us(ts) + $ActivityWindowUs AS e_us
                    FROM events),
       m AS (SELECT user_id, event_id, s_us, e_us,
               MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_max
             FROM iv),
       f AS (SELECT user_id, event_id, s_us, e_us,
               CASE WHEN prev_max IS NULL OR s_us > prev_max
                    THEN 1 ELSE 0 END AS new_isl
             FROM m),
       isl AS (SELECT user_id, s_us, e_us,
                 CAST(SUM(new_isl) OVER (PARTITION BY user_id
                   ORDER BY s_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS island
               FROM f),
       spans AS (SELECT user_id, island,
                   MIN(s_us) AS isl_s, MAX(e_us) AS isl_e
                 FROM isl GROUP BY user_id, island)
       SELECT user_id, COUNT(*) AS n_islands,
              CAST(SUM(isl_e - isl_s) AS DOUBLE) / 1000000.0 AS active_s
       FROM spans GROUP BY user_id ORDER BY user_id"""

  /** Inter-arrival latency distribution per event type: gaps between a
    * user's consecutive events of the same type (per-(user, type)
    * windows — never a global sort), then exact index-selected p50/p90
    * and an exact-sum mean per type. The ops question behind alert
    * thresholds ("how often does a user normally purchase?"); every
    * window is partitioned, percentile selection is the
    * [[Stats.percentileGroup]] integer discipline. (round 4)
    */
  def interarrivalStats(s: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("gap", col("t") - lag(col("t"), 1).over(wSeq))
      .filter(col("gap").isNotNull)
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("gap"), col("user_id"), col("event_id"))
    val wCnt = Window.partitionBy(col("event_type"))
    gaps
      .withColumn("rn", row_number().over(wRank))
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .groupBy("event_type")
      .agg(max(col("cnt")).as("n_gaps"),
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("gap")))
          .as("p50_gap_us"),
        max(when(col("rn") === expr("(9 * cnt + 9) div 10"), col("gap")))
          .as("p90_gap_us"),
        (sum(col("gap")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_gap_us"))
      .orderBy("event_type")
  }

  val interarrivalStatsSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
                  FROM events),
       g AS (SELECT user_id, event_type, event_id,
               t - LAG(t, 1) OVER (PARTITION BY user_id, event_type
                                   ORDER BY t, event_id) AS gap
             FROM e),
       gaps AS (SELECT * FROM g WHERE gap IS NOT NULL),
       r AS (SELECT event_type, gap,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY gap, user_id, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS cnt
             FROM gaps)
       SELECT event_type, MAX(cnt) AS n_gaps,
              MAX(CASE WHEN rn = (cnt + 1) // 2 THEN gap END) AS p50_gap_us,
              MAX(CASE WHEN rn = (9 * cnt + 9) // 10 THEN gap END) AS p90_gap_us,
              CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                AS mean_gap_us
       FROM r GROUP BY event_type ORDER BY event_type"""

  /** First-view-to-first-purchase conversion latency per user — the
    * time dimension [[Analytics.funnelConversion]]'s stage counts
    * lack: one conditional agg finds each user's first view, a
    * join-back + filtered agg finds the first purchase AT-OR-AFTER it
    * (a purchase before ever viewing doesn't count as converting), and
    * the delay is exact integer microseconds surfaced as seconds.
    * No windows at all — two user-cardinality aggregations and one
    * key join; honest NULLs for non-converts. (round 4)
    */
  /** Shared per-user (first_view_us, first_purchase_us) frame — ONE
    * definition of "first view" and "first purchase at-or-after it"
    * for [[timeToConvert]], [[funnelWindowed]] and (via the former)
    * the delay quartiles, so a change to the conversion rule can never
    * silently diverge the keys. */
  private[graft] def firstViewPurchase(s: SparkSession,
      dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
    val fv = e.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("t"))).as("first_view_us"))
      .filter(col("first_view_us").isNotNull)
    val fp = e.filter(col("event_type") === "purchase")
      .join(fv, Seq("user_id"))
      .filter(col("t") >= col("first_view_us"))
      .groupBy("user_id")
      .agg(min(col("t")).as("first_purchase_us"))
    fv.join(fp, Seq("user_id"), "left")
  }

  /** DuckDB twin of [[firstViewPurchase]] as WITH-clause CTEs ending in
    * `fvn` (viewers) and `fp` (their first eligible purchase). */
  private val sqlFirstViewPurchaseCtes: String =
    """e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
       fv AS (SELECT user_id,
                MIN(CASE WHEN event_type = 'view' THEN t END) AS first_view_us
              FROM e GROUP BY user_id),
       fvn AS (SELECT * FROM fv WHERE first_view_us IS NOT NULL),
       fp AS (SELECT e.user_id, MIN(e.t) AS first_purchase_us
              FROM e JOIN fvn ON e.user_id = fvn.user_id
              WHERE e.event_type = 'purchase' AND e.t >= fvn.first_view_us
              GROUP BY e.user_id)"""

  def timeToConvert(s: SparkSession, dir: String): DataFrame =
    firstViewPurchase(s, dir)
      .select(col("user_id"), col("first_view_us"), col("first_purchase_us"),
        (((col("first_purchase_us") - col("first_view_us")).cast("double")) /
          lit(1000000.0)).as("delay_s"),
        col("first_purchase_us").isNotNull.as("converted"))
      .orderBy("user_id")

  val timeToConvertSql: String =
    s"""WITH $sqlFirstViewPurchaseCtes
       SELECT fvn.user_id, fvn.first_view_us, fp.first_purchase_us,
              CAST(fp.first_purchase_us - fvn.first_view_us AS DOUBLE)
                / 1000000.0 AS delay_s,
              (fp.first_purchase_us IS NOT NULL) AS converted
       FROM fvn LEFT JOIN fp ON fvn.user_id = fp.user_id
       ORDER BY fvn.user_id"""

  /** Conversion window for [[funnelWindowed]]: 72 h in microseconds. */
  val ConvWindowUs = 72L * 3600L * 1000000L

  /** Windowed conversion rate per acquisition-week cohort — the
    * product question [[timeToConvert]]'s per-user delays roll up to:
    * "of the users who first VIEWED in week w, what share PURCHASED
    * within 72 h" (an unbounded conversion definition inflates early
    * cohorts — they've simply had more time; the fixed window makes
    * cohorts comparable, the standard growth-accounting trick). Rides
    * timeToConvert's first-view/first-purchase-after-view aggregates;
    * the cohort week is an exact integer `days-since-first-view-day
    * div 7` (engine-portable — no date_trunc week-start convention
    * risk), conversion the exact integer compare delay ≤ window.
    * Scale: two user-cardinality aggregates + one week-cardinality
    * roll-up, one division per row. (round 7)
    */
  def funnelWindowed(s: SparkSession, dir: String): DataFrame = {
    val fvp = firstViewPurchase(s, dir)
    val lo = fvp.agg(min(col("first_view_us")).as("lo"))
    fvp.crossJoin(broadcast(lo))
      .select(
        expr("((first_view_us - lo) div 86400000000) div 7").as("week"),
        (col("first_purchase_us").isNotNull &&
          col("first_purchase_us") - col("first_view_us") <= ConvWindowUs)
          .cast("long").as("conv"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_converted"))
      .select(col("week"), col("n_users"), col("n_converted"),
        (col("n_converted").cast("double") / col("n_users").cast("double"))
          .as("conv_rate"))
      .orderBy("week")
  }

  val funnelWindowedSql: String =
    s"""WITH $sqlFirstViewPurchaseCtes,
       lo AS (SELECT MIN(first_view_us) AS lo FROM fvn),
       flags AS (SELECT
                   ((fvn.first_view_us - l.lo) // 86400000000) // 7
                     AS week,
                   CASE WHEN fp.first_purchase_us IS NOT NULL
                         AND fp.first_purchase_us - fvn.first_view_us
                             <= $ConvWindowUs
                        THEN 1 ELSE 0 END AS conv
                 FROM fvn LEFT JOIN fp ON fvn.user_id = fp.user_id
                   CROSS JOIN lo l)
       SELECT CAST(week AS BIGINT) AS week,
              CAST(COUNT(*) AS BIGINT) AS n_users,
              CAST(SUM(conv) AS BIGINT) AS n_converted,
              CAST(SUM(conv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                AS conv_rate
       FROM flags GROUP BY week ORDER BY week"""

  /** Longest consecutive-day activity streak per user — gaps-and-
    * islands on the DISTINCT (user, day) frame (never raw events): a
    * run of consecutive days keeps `day_idx - row_number` constant, so
    * one partitioned window + two aggregations produce per-streak
    * lengths and the per-user maximum. Everything after the distinct
    * is user-cardinality work; windows partition per user. The
    * retention-analytics twin of [[Analytics.cohortRetention]].
    * (round 4)
    */
  def longestStreak(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("active_days"))
      .orderBy("user_id")
  }

  val longestStreakSql: String =
    """WITH days AS (SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
           FROM events),
       runs AS (SELECT user_id, day,
                  day - ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day) AS grp
                FROM days),
       streaks AS (SELECT user_id, grp, COUNT(*) AS len
                   FROM runs GROUP BY user_id, grp)
       SELECT user_id, MAX(len) AS longest_streak,
              COUNT(*) AS n_streaks,
              CAST(SUM(len) AS BIGINT) AS active_days
       FROM streaks GROUP BY user_id ORDER BY user_id"""

  /** Event-type transition matrix (first-order Markov view of user
    * behavior): for consecutive events per user, count (from -> to)
    * pairs and each row's probability among transitions leaving `from`.
    * One lead window per user + one aggregation; the per-source totals
    * are a type-cardinality frame broadcast back.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("from_type"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type").as("ft"))
      .agg(sum(col("n")).as("n_from"))
    pairs.join(broadcast(totals), col("from_type") === col("ft"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
      .orderBy("from_type", "to_type")
  }

  val eventTransitionsSql: String =
    """WITH e AS (SELECT user_id, event_type AS from_type, epoch_us(ts) AS t,
                    event_id
                  FROM events),
       seq AS (SELECT from_type,
                 LEAD(from_type, 1) OVER (PARTITION BY user_id
                   ORDER BY t, event_id) AS to_type
               FROM e),
       pairs AS (SELECT from_type, to_type, COUNT(*) AS n
                 FROM seq WHERE to_type IS NOT NULL
                 GROUP BY from_type, to_type),
       totals AS (SELECT from_type AS ft, CAST(SUM(n) AS BIGINT) AS n_from
                  FROM pairs GROUP BY from_type)
       SELECT from_type, to_type, n,
              CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
       FROM pairs JOIN totals ON from_type = ft
       ORDER BY from_type, to_type"""

  /** Tumbling-hour aggregation (batch twin of the streaming windowed
    * count). Hour emitted as a formatted string — portable across
    * engines where raw timestamps are not.
    */
  def eventsHourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00")
        .as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum(decp(col("value"))).as("sum_value"))
      .orderBy("hour", "event_type")

  val eventsHourlySql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type, COUNT(*) AS n_events, ${sqlDsum(sqlDecp("value"))} AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""

  /** SLO burn-rate panel over the error stream — the Google-SRE
    * multi-window alert input ("is this hour burning error budget
    * faster than the daily baseline"): per hour on the ZERO-FILLED
    * hour spine, the hour's error share, the trailing-24h share (a
    * DAY-BUCKET equi-join: any trailing-24h window spans at most the
    * hour's own day bucket and the previous one, so side a explodes
    * its two candidate buckets and joins side b on the bucket KEY,
    * band filter as residual — ≤ 48-row fan-in per hour, |span|×48
    * total scan work, where the raw band condition alone planned as a
    * |span|² BroadcastNestedLoopJoin scan), and the burn ratio
    * hour/day. Exact integer counts, three guarded divisions (an hour
    * or a day with no events — or no errors in the long window —
    * yields NULL, never a fake 0 or an ANSI throw). Scale: one events
    * scan compacts to hour cells; everything after is |span|-sized.
    * (round 7; equi-keyed round 8)
    */
  def sloBurnRate(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        (col("event_type") === "error").as("err"))
    val cells = ev.groupBy("h")
      .agg(count(lit(1)).as("n"),
        sum(when(col("err"), 1L).otherwise(0L)).as("ne"))
    val bounds = ev.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val z = broadcast(bounds)
      .select(explode(sequence(col("lo"), col("hi"))).as("h"), col("lo"))
      .join(cells, Seq("h"), "left")
      .select(col("h"), col("lo"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("ne"), lit(0L)).as("ne"))
      .localCheckpoint() // |span|-sized; feeds both sides of the window
    val a = z.withColumn("bd",
      explode(array(expr("h div 24"), expr("h div 24 - 1"))))
    val b = z.select(col("h").as("bh"), col("n").as("bn"),
      col("ne").as("bne"), expr("h div 24").as("bd"))
    a.join(b, Seq("bd"))
      .filter(col("bh") >= col("h") - 23 && col("bh") <= col("h"))
      .groupBy(col("h"), col("lo"), col("n"), col("ne").as("n_err"))
      .agg(sum(col("bn")).as("n_24h"), sum(col("bne")).as("err_24h"))
      .select((col("h") - col("lo")).as("hour_idx"), col("n"),
        col("n_err"), col("n_24h"), col("err_24h"),
        when(col("n") > 0,
          col("n_err").cast("double") / col("n").cast("double"))
          .as("rate_1h"),
        when(col("n_24h") > 0,
          col("err_24h").cast("double") / col("n_24h").cast("double"))
          .as("rate_24h"),
        when(col("n") > 0 && col("err_24h") > 0,
          (col("n_err").cast("double") / col("n").cast("double"))
            / (col("err_24h").cast("double") / col("n_24h").cast("double")))
          .as("burn_ratio"))
      .orderBy("hour_idx")
  }

  val sloBurnRateSql: String =
    """WITH ev AS (SELECT epoch_us(ts) // 3600000000 AS h,
                          (event_type = 'error') AS err
                   FROM events),
       cells AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(CASE WHEN err THEN 1 ELSE 0 END)
                             AS BIGINT) AS ne
                 FROM ev GROUP BY 1),
       bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
       z AS MATERIALIZED (
         SELECT s.h, b.lo, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
                CAST(COALESCE(c.ne, 0) AS BIGINT) AS ne
         FROM (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) s
           CROSS JOIN bounds b
           LEFT JOIN cells c ON s.h = c.h),
       w AS (SELECT a.h, a.lo, a.n, a.ne,
                    CAST(SUM(b.n) AS BIGINT) AS n_24h,
                    CAST(SUM(b.ne) AS BIGINT) AS err_24h
             FROM z a JOIN z b ON b.h >= a.h - 23 AND b.h <= a.h
             GROUP BY 1, 2, 3, 4)
       SELECT h - lo AS hour_idx, n, ne AS n_err, n_24h, err_24h,
              CASE WHEN n > 0 THEN
                CAST(ne AS DOUBLE) / CAST(n AS DOUBLE) END AS rate_1h,
              CASE WHEN n_24h > 0 THEN
                CAST(err_24h AS DOUBLE) / CAST(n_24h AS DOUBLE)
              END AS rate_24h,
              CASE WHEN n > 0 AND err_24h > 0 THEN
                (CAST(ne AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(err_24h AS DOUBLE) / CAST(n_24h AS DOUBLE))
              END AS burn_ratio
       FROM w ORDER BY hour_idx"""

  /** SCD2 interval build (gaps-and-islands): collapse each user's
    * consecutive same-event_type runs into validity intervals with
    * the warehouse's slowly-changing-dimension-type-2 contract —
    * `valid_to` = next interval's `valid_from` (half-open, no gaps or
    * overlaps per key), NULL + `is_current` on the open run. Change
    * detection is one lag, island ids one running sum, intervals one
    * group — all inside per-user partitioned windows, the same shape
    * [[sessionize]] scales by. Keyed to every 20th user so the
    * registered frame stays report-sized; the operator is
    * corpus-general.
    */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame =
    scd2Runs(Tables.events(s, dir).filter(col("user_id") % 20 === 0))
      .orderBy("user_id", "valid_from")

  /** Gaps-and-islands run collapse into half-open SCD2 validity
    * intervals over any events slice — shared by [[scd2Intervals]]
    * (the registered build) and [[scd2PointLookup]] (which builds its
    * dimension from the non-error slice).
    */
  private def scd2Runs(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val e = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    val runs = e
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull
          .or(lag(col("event_type"), 1).over(w) =!= col("event_type")), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("run_id"), col("event_type"))
      .agg(min(col("t")).as("valid_from"), count(lit(1)).as("n_events"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .select(col("user_id"), col("run_id"), col("event_type"),
        col("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).cast("int")
          .as("is_current"),
        col("n_events"))
  }

  val scd2IntervalsSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
                  FROM events WHERE user_id % 20 = 0),
       flagged AS (
         SELECT user_id, event_id, event_type, t,
           CASE WHEN LAG(event_type, 1) OVER w IS NULL
                  OR LAG(event_type, 1) OVER w <> event_type
                THEN 1 ELSE 0 END AS chg
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       runs AS (
         SELECT user_id, event_type,
           CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS run_id, t
         FROM flagged),
       grouped AS (
         SELECT user_id, run_id, event_type, MIN(t) AS valid_from,
                CAST(COUNT(*) AS BIGINT) AS n_events
         FROM runs GROUP BY 1, 2, 3)
       SELECT user_id, run_id, event_type, valid_from,
              LEAD(valid_from, 1) OVER (PARTITION BY user_id
                ORDER BY valid_from) AS valid_to,
              CAST(CASE WHEN LEAD(valid_from, 1) OVER (PARTITION BY user_id
                ORDER BY valid_from) IS NULL THEN 1 ELSE 0 END AS INT)
                AS is_current,
              n_events
       FROM grouped ORDER BY user_id, valid_from"""

  /** EWMA taps: weights 2^-1 .. 2^-EwmaTaps (sum = 1 - 2^-EwmaTaps;
    * the truncation bias is under 0.002% of the signal).
    */
  private val EwmaTaps = 16

  /** Exponentially-weighted moving average of purchase values per user
    * — the smoothing primitive time-series dashboards layer on raw
    * event streams. The textbook recursive EWMA is order-SEQUENTIAL
    * (each row depends on the previous result), which neither
    * distributes nor replays portably in floating point; this is the
    * [[EwmaTaps]]-tap TRUNCATED form: ewm_t = sum_k x_{t-k} / 2^(k+1),
    * a fixed linear combination of lags. Two deliberate choices make
    * it BIT-portable (SURVEY §5) where a general EWMA cannot be:
    * alpha = 1/2, so every weight is a power of two (x/2^k only
    * decrements the exponent — exact), and values quantized to integer
    * cents via FLOOR (floor-after-multiply is the same double op in
    * both engines) — so every term and every partial sum is an exact
    * dyadic rational below 2^53, and addition order cannot matter.
    * One per-user window, EwmaTaps lags sharing it: a single
    * WindowExec, partition-parallel, no state carried across rows
    * beyond the frame. (round 4)
    */
  def ewmaSmooth(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val base = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"),
        floor(col("value") * 100).cast("long").as("x"))
    val ewm = (0 until EwmaTaps).map { k =>
      coalesce(lag(col("x"), k).over(w), lit(0L)).cast("double") /
        lit(math.pow(2.0, k + 1))
    }.reduce(_ + _)
    base.select(col("event_id"), col("user_id"), col("x"), ewm.as("ewm"))
      .orderBy("user_id", "event_id")
  }

  val ewmaSmoothSql: String = {
    val terms = (0 until EwmaTaps).map { k =>
      s"COALESCE(LAG(x, $k) OVER w, 0) / ${math.pow(2.0, k + 1).toLong}.0"
    }.mkString(" + ")
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t,
                     CAST(FLOOR(value * 100) AS BIGINT) AS x
                   FROM events WHERE event_type = 'purchase')
       SELECT event_id, user_id, x, $terms AS ewm
       FROM e
       WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
       ORDER BY user_id, event_id"""
  }

  /** Third-order sequence mining: event-type trigrams per user session
    * stream, with each window's share of its leading bigram — the one-
    * step-deeper sibling of [[eventTransitions]] ("after view->click,
    * what comes next"). Two leads over the same per-user window (one
    * window spec, one shuffle); counts exact, the conditional share is
    * one division against the broadcast bigram totals.
    */
  def eventTrigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val tri = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("t1"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
      // types^3-bounded frame feeding both the bigram totals and the
      // output join (§7a compact post-agg rule)
      .localCheckpoint()
    val big = tri.groupBy(col("t1").as("b1"), col("t2").as("b2"))
      .agg(sum(col("n")).as("n_bigram"))
    tri.join(broadcast(big), col("t1") === col("b1") && col("t2") === col("b2"))
      .select(col("t1"), col("t2"), col("t3"), col("n"),
        (col("n").cast("double") / col("n_bigram").cast("double"))
          .as("p_next"))
      .orderBy("t1", "t2", "t3")
  }

  val eventTrigramsSql: String =
    """WITH e AS (SELECT user_id, event_type AS t1, epoch_us(ts) AS t,
                    event_id
                  FROM events),
       seq AS (SELECT t1,
                 LEAD(t1, 1) OVER (PARTITION BY user_id
                   ORDER BY t, event_id) AS t2,
                 LEAD(t1, 2) OVER (PARTITION BY user_id
                   ORDER BY t, event_id) AS t3
               FROM e),
       tri AS (SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
               FROM seq WHERE t3 IS NOT NULL GROUP BY 1, 2, 3),
       big AS (SELECT t1 AS b1, t2 AS b2, CAST(SUM(n) AS BIGINT) AS n_bigram
               FROM tri GROUP BY 1, 2)
       SELECT t1, t2, t3, n,
              CAST(n AS DOUBLE) / CAST(n_bigram AS DOUBLE) AS p_next
       FROM tri JOIN big ON t1 = b1 AND t2 = b2
       ORDER BY t1, t2, t3"""

  /** Daily PEAK session concurrency — the capacity-planning sweep-line
    * ("how many sessions were open at the worst moment of each day")
    * over [[sessionize]]'s intervals: every session emits a +1 at its
    * start and a −1 at its end; the running sum at any instant is the
    * concurrency. The prefix sum is [[graft.functions.Keys.prefixSums]]
    * bucketed by day, so cross-midnight sessions carry in exactly from
    * the earlier days' totals and no global window exists. Tie order
    * at equal timestamps is (+1 before −1, then
    * user, session): touching sessions count as concurrent —
    * documented convention. Days with no session boundary emit no row
    * (concurrency is constant across them). Scale: deltas are
    * 2×sessions rows; everything after is day-partitioned or
    * day-cardinality. (round 6)
    */
  def peakConcurrencyDaily(s: SparkSession, dir: String): DataFrame = {
    val sess = sessionize(s, dir)
      .select(col("user_id"), col("session_id"), col("start_us"),
        col("end_us"))
    val deltas = sess.select(col("user_id"), col("session_id"),
        explode(array(
          struct(col("start_us").as("t"), lit(1L).as("d")),
          struct(col("end_us").as("t"), lit(-1L).as("d")))).as("e"))
      .select(to_date(timestamp_micros(col("e.t"))).as("day"),
        col("e.t").as("t"), col("e.d").as("d"),
        col("user_id"), col("session_id"))
      .localCheckpoint() // feeds the sweep AND the carry-in totals
    Keys.prefixSums(deltas, Nil, col("day"),
        Seq(col("t"), col("d").desc, col("user_id"), col("session_id")), Seq("d"))
      .groupBy("day")
      .agg(max(col("cum_d")).as("peak_concurrent"),
        sum(when(col("d") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("d") === -1L, 1L).otherwise(0L)).as("n_ends"))
      .orderBy("day")
  }

  val peakConcurrencyDailySql: String =
    s"""WITH sess AS (SELECT user_id, session_id, start_us, end_us
             FROM ($sessionizeSql)),
       deltas AS (
         SELECT CAST(make_timestamp(t) AS DATE) AS day, t, d,
                user_id, session_id
         FROM (SELECT user_id, session_id, start_us AS t, 1 AS d FROM sess
               UNION ALL
               SELECT user_id, session_id, end_us AS t, -1 AS d FROM sess)),
       run AS (SELECT day, d,
                      CAST(SUM(CAST(d AS BIGINT)) OVER (
                        ORDER BY t, d DESC, user_id, session_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS c
               FROM deltas)
       SELECT day, CAST(MAX(c) AS BIGINT) AS peak_concurrent,
              CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_starts,
              CAST(SUM(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_ends
       FROM run GROUP BY day ORDER BY day"""

  /** Conversion-delay quartiles — the latency distribution behind
    * [[timeToConvert]]'s per-user table ("how long from first view to
    * first purchase", answered as p25/p50/p75 instead of a wall of
    * rows). Quartiles select by rank, a running count under
    * (delay, user) from [[graft.functions.Keys.prefixSums]] over
    * hour-bucketed delays (no global window at user cardinality), index
    * convention (p·(n+1)) div 4; the conversion rate rides the same
    * pass. Seconds surface as one µs/1e6 division. (round 6)
    */
  def conversionDelayQuartiles(s: SparkSession, dir: String): DataFrame = {
    val t = timeToConvert(s, dir)
      .select(col("user_id"), col("first_view_us"), col("first_purchase_us"),
        col("converted"))
      .localCheckpoint() // feeds the rank chain AND the totals
    val conv = t.filter(col("converted"))
      .select(col("user_id"),
        (col("first_purchase_us") - col("first_view_us")).as("delay_us"),
        lit(1L).as("rk"))
    val ranked = Keys.prefixSums(conv, Nil, expr("delay_us div 3600000000L"),
        Seq(col("delay_us"), col("user_id")), Seq("rk"))
      .select(col("delay_us"), col("cum_rk").as("rk"))
    val tot = t.agg(count(lit(1)).as("n_viewers"),
      sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
    ranked.crossJoin(broadcast(tot))
      .groupBy("n_viewers", "n_converted")
      .agg(
        max(when(col("rk") === expr("(n_converted + 1) div 4"),
          col("delay_us"))).as("p25_us"),
        max(when(col("rk") === expr("(n_converted + 1) div 2"),
          col("delay_us"))).as("p50_us"),
        max(when(col("rk") === expr("(3 * n_converted + 3) div 4"),
          col("delay_us"))).as("p75_us"))
      .select(col("n_viewers"), col("n_converted"),
        (col("n_converted").cast("double") / col("n_viewers").cast("double"))
          .as("conv_rate"),
        (col("p25_us").cast("double") / lit(1.0e6)).as("p25_s"),
        (col("p50_us").cast("double") / lit(1.0e6)).as("p50_s"),
        (col("p75_us").cast("double") / lit(1.0e6)).as("p75_s"))
  }

  val conversionDelayQuartilesSql: String =
    s"""WITH t AS (SELECT user_id, first_view_us, first_purchase_us, converted
             FROM ($timeToConvertSql)),
       conv AS (SELECT user_id,
                       first_purchase_us - first_view_us AS delay_us
                FROM t WHERE converted),
       r AS (SELECT delay_us,
               ROW_NUMBER() OVER (ORDER BY delay_us, user_id) AS rk
             FROM conv),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers,
                      CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_converted
               FROM t)
       SELECT tot.n_viewers, tot.n_converted,
              CAST(tot.n_converted AS DOUBLE)
                / CAST(tot.n_viewers AS DOUBLE) AS conv_rate,
              CAST(MAX(CASE WHEN rk = (n_converted + 1) // 4
                            THEN delay_us END) AS DOUBLE) / 1.0e6 AS p25_s,
              CAST(MAX(CASE WHEN rk = (n_converted + 1) // 2
                            THEN delay_us END) AS DOUBLE) / 1.0e6 AS p50_s,
              CAST(MAX(CASE WHEN rk = (3 * n_converted + 3) // 4
                            THEN delay_us END) AS DOUBLE) / 1.0e6 AS p75_s
       FROM r CROSS JOIN tot
       GROUP BY tot.n_viewers, tot.n_converted"""

  /** Burstiness index per event type — Goh & Barabási's
    * B = (σ−μ)/(σ+μ) over interarrival gaps (the canonical "is this
    * traffic Poisson, periodic, or bursty" scalar: −1 = clockwork,
    * 0 = Poisson, →1 = heavy bursts; capacity planners and anomaly
    * thresholds read this before trusting any rate average). Gap
    * moments accumulate EXACTLY (µs gaps in DECIMAL(38,0)/HUGEINT —
    * squares pass 2^63 at ~day-long gaps), σ and the index are one
    * identical double tree per type; a zero-dispersion-zero-mean
    * degenerate emits NULL (the ANSI rule). The per-(user, type)
    * sequence windows are partitioned — never global. (round 6)
    */
  def burstinessIndex(s: SparkSession, dir: String): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val wSeq = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t"), col("event_id"))
    val g = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("gap", col("t") - lag(col("t"), 1).over(wSeq))
      .filter(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("gap")).cast("decimal(38,0)").as("sg"),
        sum(dec(col("gap")) * col("gap")).cast("decimal(38,0)").as("sgg"))
    val mean = col("sg").cast("double") / col("n").cast("double")
    val sigma = sqrt((dec(col("n")) * col("sgg") - col("sg") * col("sg"))
      .cast("double")
      / (col("n").cast("double") * col("n").cast("double")))
    g.select(col("event_type"), col("n").as("n_gaps"),
        mean.as("mean_gap_us"), sigma.as("sigma_gap_us"),
        when(sigma + mean > 0, (sigma - mean) / (sigma + mean))
          .as("burstiness"))
      .orderBy("event_type")
  }

  val burstinessIndexSql: String = {
    val mean = "(CAST(CAST(sg AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))"
    val sigma = "sqrt(CAST(CAST(CAST(n AS HUGEINT) * sgg - sg * sg " +
      "AS VARCHAR) AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
                   FROM events),
       gaps AS (SELECT event_type,
                       t - LAG(t, 1) OVER (PARTITION BY user_id, event_type
                                           ORDER BY t, event_id) AS gap
                FROM e),
       g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                    SUM(CAST(gap AS HUGEINT)) AS sg,
                    SUM(CAST(gap AS HUGEINT) * gap) AS sgg
             FROM gaps WHERE gap IS NOT NULL GROUP BY 1)
       SELECT event_type, n AS n_gaps,
              $mean AS mean_gap_us, $sigma AS sigma_gap_us,
              CASE WHEN $sigma + $mean > 0 THEN
                ($sigma - $mean) / ($sigma + $mean) END AS burstiness
       FROM g ORDER BY event_type"""
  }

  /** Day-of-week × hour activity heatmap — the traffic-shape grid
    * behind every "when are our users awake" dashboard (and the input
    * a capacity planner eyeballs before trusting [[burstinessIndex]]'s
    * scalar): per (ISO weekday, hour-of-day) cell, event count and the
    * share of corpus events, one double division per cell. ISO weekday
    * via weekday()+1 / isodow() because the engines' dayofweek()
    * disagree on week start (the seasonality_dow lesson). Scale: one
    * scan, one ≤168-row aggregate. (round 6)
    */
  def eventsDowHourHeatmap(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy((expr("weekday(CAST(ts AS DATE))") + 1).as("iso_dow"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val tot = cells.agg(sum(col("n_events")).as("te"))
    cells.crossJoin(broadcast(tot))
      .select(col("iso_dow").cast("long").as("iso_dow"), col("hour"),
        col("n_events"),
        (col("n_events").cast("double") / col("te").cast("double"))
          .as("share"))
      .orderBy("iso_dow", "hour")
  }

  val eventsDowHourHeatmapSql: String =
    """WITH cells AS (SELECT isodow(CAST(ts AS DATE)) AS iso_dow,
                            CAST(hour(ts) AS BIGINT) AS hour,
                            CAST(COUNT(*) AS BIGINT) AS n_events
                      FROM events GROUP BY 1, 2),
       tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS te FROM cells)
       SELECT CAST(iso_dow AS BIGINT) AS iso_dow, hour, n_events,
              CAST(n_events AS DOUBLE) / CAST(te AS DOUBLE) AS share
       FROM cells CROSS JOIN tot
       ORDER BY iso_dow, hour"""

  /** Reciprocity of the directed event-transition graph — "when A
    * leads to B, does B also lead to A" ([[eventTransitions]] gives
    * the per-edge probabilities; this gives the one-number structure
    * read: high reciprocity = oscillating UI loops, low = a one-way
    * funnel): over the off-diagonal transition-count edges, the share
    * of directed edges whose reverse exists (edge reciprocity) and the
    * transition-weighted share Σ min(n_ab, n_ba) / Σ n (the
    * weighted-network form — min counts the paired flow). All exact
    * BIGINTs; two guarded divisions. Scale: one events scan compacts
    * to the user-partitioned lead window, then everything is
    * types²-bounded. (round 9)
    */
  def eventReciprocity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("from_type"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull && col("to_type") =!= col("from_type"))
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val rev = pairs.select(col("to_type").as("rf"), col("from_type").as("rt"),
      col("n").as("rn"))
    pairs.join(broadcast(rev),
        col("from_type") === col("rf") && col("to_type") === col("rt"),
        "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("rn").isNotNull, 1L).otherwise(0L)).as("n_recip_edges"),
        sum(col("n")).as("n_trans"),
        sum(least(col("n"), coalesce(col("rn"), lit(0L))))
          .as("n_recip_trans"))
      .select(col("n_edges"), col("n_recip_edges"), col("n_trans"),
        col("n_recip_trans"),
        when(col("n_edges") > 0,
          col("n_recip_edges").cast("double") / col("n_edges").cast("double"))
          .as("edge_reciprocity"),
        when(col("n_trans") > 0,
          col("n_recip_trans").cast("double") / col("n_trans").cast("double"))
          .as("weight_reciprocity"))
  }

  val eventReciprocitySql: String =
    """WITH e AS (SELECT user_id, event_type AS from_type,
                    epoch_us(ts) AS t, event_id
                  FROM events),
       seq AS (SELECT from_type,
                 LEAD(from_type, 1) OVER (PARTITION BY user_id
                   ORDER BY t, event_id) AS to_type
               FROM e),
       pairs AS (SELECT from_type, to_type,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM seq
                 WHERE to_type IS NOT NULL AND to_type <> from_type
                 GROUP BY 1, 2),
       j AS (SELECT p.n, r.n AS rn
             FROM pairs p LEFT JOIN pairs r
               ON p.from_type = r.to_type AND p.to_type = r.from_type),
       agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
                      CAST(SUM(CASE WHEN rn IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_recip_edges,
                      CAST(SUM(n) AS BIGINT) AS n_trans,
                      CAST(SUM(least(n, COALESCE(rn, 0))) AS BIGINT)
                        AS n_recip_trans
               FROM j)
       SELECT n_edges, n_recip_edges, n_trans, n_recip_trans,
              CASE WHEN n_edges > 0 THEN
                CAST(n_recip_edges AS DOUBLE) / CAST(n_edges AS DOUBLE)
              END AS edge_reciprocity,
              CASE WHEN n_trans > 0 THEN
                CAST(n_recip_trans AS DOUBLE) / CAST(n_trans AS DOUBLE)
              END AS weight_reciprocity
       FROM agg"""

  /** Transition-latency quartiles — how LONG each (from → to) edge of
    * [[eventTransitions]]' graph takes ("the matrix says view leads to
    * purchase; this says in how many minutes" — the dwell-time read
    * an SLA or session-timeout choice needs): per-user consecutive
    * event gaps from one lead window, then per-(from, to) exact
    * rank-selected quartiles (the (cnt+1) div 4 idiom — no
    * interpolation) over the microsecond gaps, mean as one double
    * division. Gaps stay integer microseconds end to end. Scale: one
    * events scan, user-partitioned lead, (from, to)-partitioned rank
    * windows, types²-bounded output. (round 9)
    */
  def transitionLatencyQuartiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("from_type"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .withColumn("nt", lead(col("t"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("from_type"), col("to_type"),
        (col("nt") - col("t")).as("gap_us"), col("event_id"))
    val wr = Window.partitionBy(col("from_type"), col("to_type"))
      .orderBy(col("gap_us"), col("event_id"))
    val wn = Window.partitionBy(col("from_type"), col("to_type"))
    gaps.withColumn("rn", row_number().over(wr))
      .withColumn("cnt", count(lit(1)).over(wn))
      .groupBy("from_type", "to_type")
      .agg(
        max(when(col("rn") === expr("(cnt + 1) div 4"), col("gap_us")))
          .as("p25_us"),
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("gap_us")))
          .as("p50_us"),
        max(when(col("rn") === expr("(3 * cnt + 3) div 4"), col("gap_us")))
          .as("p75_us"),
        max(col("cnt")).as("n"),
        sum(col("gap_us")).as("gap_sum"))
      .select(col("from_type"), col("to_type"), col("p25_us"),
        col("p50_us"), col("p75_us"), col("n"),
        (col("gap_sum").cast("double") / col("n").cast("double"))
          .as("mean_us"))
      .orderBy("from_type", "to_type")
  }

  val transitionLatencyQuartilesSql: String =
    """WITH e AS (SELECT user_id, event_type AS from_type,
                    epoch_us(ts) AS t, event_id
                  FROM events),
       seq AS (SELECT from_type,
                 LEAD(from_type, 1) OVER (PARTITION BY user_id
                   ORDER BY t, event_id) AS to_type,
                 LEAD(t, 1) OVER (PARTITION BY user_id
                   ORDER BY t, event_id) - t AS gap_us,
                 event_id
               FROM e),
       gaps AS (SELECT from_type, to_type,
                       CAST(gap_us AS BIGINT) AS gap_us, event_id
                FROM seq WHERE to_type IS NOT NULL),
       r AS (SELECT from_type, to_type, gap_us,
               ROW_NUMBER() OVER (PARTITION BY from_type, to_type
                                  ORDER BY gap_us, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY from_type, to_type) AS cnt
             FROM gaps)
       SELECT from_type, to_type,
              MAX(CASE WHEN rn = (cnt + 1) // 4 THEN gap_us END) AS p25_us,
              MAX(CASE WHEN rn = (cnt + 1) // 2 THEN gap_us END) AS p50_us,
              MAX(CASE WHEN rn = (3 * cnt + 3) // 4 THEN gap_us END)
                AS p75_us,
              CAST(MAX(cnt) AS BIGINT) AS n,
              CAST(SUM(gap_us) AS DOUBLE) / CAST(MAX(cnt) AS DOUBLE)
                AS mean_us
       FROM r GROUP BY 1, 2 ORDER BY from_type, to_type"""

  def queries: Seq[Q] = Seq(
    Q("events_dow_hour_heatmap",
      Some(eventsDowHourHeatmapSql))(eventsDowHourHeatmap),
    Q("burstiness_index", Some(burstinessIndexSql))(burstinessIndex),
    Q("conversion_delay_quartiles",
      Some(conversionDelayQuartilesSql))(conversionDelayQuartiles),
    Q("peak_concurrency_daily",
      Some(peakConcurrencyDailySql))(peakConcurrencyDaily),
    Q("event_trigrams", Some(eventTrigramsSql))(eventTrigrams),
    Q("ewma_smooth", Some(ewmaSmoothSql))(ewmaSmooth),
    Q("scd2_intervals", Some(scd2IntervalsSql))(scd2Intervals),
    Q("scd2_point_lookup", Some(scd2PointLookupSql))(scd2PointLookup),
    Q("attribution_first_last", Some(attributionFirstLastSql))(attributionFirstLast),
    Q("asof_join", Some(asofJoinSql), bench = true)(asofJoin),
    Q("asof_join_native", Some(asofJoinSql), bench = true)(asofJoinNative),
    Q("asof_join_tolerance", Some(asofJoinToleranceSql))(asofJoinTolerance),
    Q("asof_join_forward", Some(asofJoinForwardSql))(asofJoinForward),
    Q("asof_join_tolerance_native", Some(asofJoinToleranceSql))(asofJoinToleranceNative),
    Q("asof_join_forward_native", Some(asofJoinForwardSql))(asofJoinForwardNative),
    Q("time_weighted_avg", Some(timeWeightedAvgSql))(timeWeightedAvg),
    Q("sessionize", Some(sessionizeSql), bench = true)(sessionize),
    Q("session_stats", Some(sessionStatsSql))(sessionStats),
    Q("longest_streak", Some(longestStreakSql))(longestStreak),
    Q("interarrival_stats", Some(interarrivalStatsSql))(interarrivalStats),
    Q("interval_union_length", Some(intervalUnionLengthSql))(intervalUnionLength),
    Q("time_to_convert", Some(timeToConvertSql))(timeToConvert),
    Q("funnel_windowed", Some(funnelWindowedSql))(funnelWindowed),
    Q("top_event_paths", Some(topEventPathsSql))(topEventPaths),
    Q("event_transitions", Some(eventTransitionsSql))(eventTransitions),
    Q("events_hourly", Some(eventsHourlySql))(eventsHourly),
    Q("slo_burn_rate", Some(sloBurnRateSql))(sloBurnRate),
    Q("event_reciprocity", Some(eventReciprocitySql))(eventReciprocity),
    Q("transition_latency_quartiles",
      Some(transitionLatencyQuartilesSql))(transitionLatencyQuartiles))
}
