package graft.operators

import graft.Q
import graft.functions.Keys
import graft.functions.Nums._
import graft.functions.Text._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution / relevance statistics — the dashboard-and-curation
  * layer above plain aggregates: exact percentiles, histograms,
  * time-spine gap filling, interval (range) joins, and TF-IDF term
  * relevance. Like everything oracle-gated, each query is built from
  * engine-portable primitives only: integer index selection instead of
  * engine `percentile()` interpolation, exact integer division instead
  * of `ln` (libm logs are not correctly-rounded, so their last ulp may
  * differ across engines — SURVEY.md §5 discipline).
  */
object Stats {

  /** Exact per-group percentiles (p50/p90/p99) by index selection —
    * `percentile_disc` semantics: the value at row ceil(p*n) of the
    * sorted group. Engines disagree on `percentile()` interpolation;
    * an actually-selected row is bit-portable. The index arithmetic is
    * pure integers. One partitioned window per group (parallel across
    * groups; a 100 TB fact with few groups would swap in the
    * two-phase [[graft.plans.SpaceSavingTopK]]-style sketch instead —
    * this is the exact form).
    */
  def percentileGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("prio"))
      .orderBy(col("price"), col("o_orderkey"))
    val wn = Window.partitionBy(col("prio"))
    Tables.orders(s, dir)
      .select(lower(trim(col("o_orderpriority"))).as("prio"),
        decp(col("o_totalprice")).cast("double").as("price"),
        col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wn))
      .groupBy("prio")
      .agg(
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("price"))).as("p50"),
        max(when(col("rn") === expr("(9 * cnt + 9) div 10"), col("price"))).as("p90"),
        max(when(col("rn") === expr("(99 * cnt + 99) div 100"), col("price"))).as("p99"),
        max(col("cnt")).as("n"))
      .orderBy("prio")
  }

  val percentileGroupSql: String =
    s"""WITH t AS (SELECT lower(trim(o_orderpriority)) AS prio,
                     CAST(${sqlDecp("o_totalprice")} AS DOUBLE) AS price, o_orderkey
                   FROM orders),
       r AS (SELECT prio, price,
               ROW_NUMBER() OVER (PARTITION BY prio ORDER BY price, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY prio) AS cnt
             FROM t)
       SELECT prio, MAX(CASE WHEN rn = (cnt + 1) // 2 THEN price END) AS p50,
              MAX(CASE WHEN rn = (9 * cnt + 9) // 10 THEN price END) AS p90,
              MAX(CASE WHEN rn = (99 * cnt + 99) // 100 THEN price END) AS p99,
              CAST(MAX(cnt) AS BIGINT) AS n
       FROM r GROUP BY prio ORDER BY prio"""

  /** Histogram bucket width (order totals run 850..510k). */
  private val BinWidth = 25000.0

  /** Fixed-width histogram: one GROUP BY over a map-side bin
    * projection — the single-shuffle shape that holds at any scale
    * (bins are bounded by the value range, not the row count). The bin
    * edge division runs in doubles on an exact decimal value: one IEEE
    * division + floor, bit-identical in both engines.
    */
  def histogramBins(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(decp(col("o_totalprice")).as("p"))
      .select(floor(col("p").cast("double") / BinWidth).cast("long").as("bin"),
        col("p"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), dsum(col("p")).as("sum_price"))
      .withColumn("bin_lo", col("bin").cast("double") * BinWidth)
      .select(col("bin"), col("bin_lo"), col("n"), col("sum_price"))
      .orderBy("bin")

  val histogramBinsSql: String =
    s"""WITH t AS (SELECT CAST(FLOOR(CAST(${sqlDecp("o_totalprice")} AS DOUBLE)
                     / $BinWidth) AS BIGINT) AS bin,
                   ${sqlDecp("o_totalprice")} AS p
                   FROM orders)
       SELECT bin, CAST(bin AS DOUBLE) * $BinWidth AS bin_lo, COUNT(*) AS n,
              ${sqlDsum("p")} AS sum_price
       FROM t GROUP BY bin ORDER BY bin"""

  /** Time-spine gap fill with forward fill: a complete (event_type, day)
    * spine over the corpus date range, daily aggregates joined on, holes
    * marked and value-filled from the latest preceding day. The spine is
    * a tiny generated frame (days x types — calendar-bounded, not
    * row-bounded) broadcast against the daily aggregate; the forward
    * fill is a partitioned `last(ignoreNulls)` window, parallel per
    * type. The reporting-layer twin of [[StarSchema.dimDateSpine]].
    */
  def gapFillFfill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"), dsum(decp(col("value"))).as("day_value"))
    val days = ev.agg(to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val spine = ev.select(col("event_type")).distinct().crossJoin(days)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    broadcast(spine)
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("day_value"), ignoreNulls = true).over(w).as("ffill_value"),
        col("n_events").isNull.as("gap"))
      .orderBy("event_type", "day")
  }

  val gapFillFfillSql: String =
    s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                         COUNT(*) AS n_events,
                         ${sqlDsum(sqlDecp("value"))} AS day_value
                       FROM events GROUP BY 1, 2),
       b AS (SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
             FROM events),
       days AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
                  AS DATE) AS day FROM b),
       spine AS (SELECT t.event_type, d.day
                 FROM (SELECT DISTINCT event_type FROM events) t
                 CROSS JOIN days d)
       SELECT s.event_type, s.day, COALESCE(dl.n_events, 0) AS n_events,
              LAST_VALUE(dl.day_value IGNORE NULLS) OVER (
                PARTITION BY s.event_type ORDER BY s.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value,
              (dl.n_events IS NULL) AS gap
       FROM spine s LEFT JOIN daily dl
         ON s.event_type = dl.event_type AND s.day = dl.day
       ORDER BY s.event_type, s.day"""

  /** Range-join interval length AND bucket width: 1 hour in micros.
    * Width == interval length means every interval overlaps at most 2
    * buckets, so the fan-out is bounded by 2x regardless of data.
    */
  private[graft] val RangeUs = 3600000000L

  /** Interval (range) join, Spark-native: Spark has no inequality-join
    * operator (a bare `ON t >= s AND t < e` plans as a nested-loop
    * cross product), so the interval containment is re-expressed as an
    * EQUI-join on a time bucket: probes carry `t div W`, intervals
    * explode to their (<= 2, distinct) covering buckets, the bucket
    * join pre-filters to same-hour pairs and the exact predicate
    * verifies. One shuffle on a key whose cardinality grows with the
    * time span (spreads at scale) and whose skew AQE can split — vs
    * the built-in plan that would ship every probe to every interval.
    * Here: events inside the hour after each 'error' event (blast
    * radius of an incident); DuckDB's native IEJoin is the oracle.
    */
  def rangeJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val iv = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("iv_id"), unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + lit(RangeUs))
      .withColumn("b", explode(array_distinct(
        array(expr(s"s div ${RangeUs}L"), expr(s"(e - 1) div ${RangeUs}L")))))
    // Probe-side fan-out: the interval side broadcasts, so pair
    // PRODUCTION (join + filter + partial agg) runs inside the probe
    // scan's tasks — on a few-split layout that serializes the whole
    // density²-bound pair stream (measured at the round-12 gate: this
    // query ran 48.0 s on flat single-file sf1.0 vs 4.68 s on the same
    // rows in 32 part-files). An explicit-count repartition of the
    // narrow (event_id, t, v, b) rows restores full map width for one
    // cheap shuffle; no-op on any real multi-file layout.
    val pr = Tables.fanOut(
      ev.select(col("event_id"), unix_micros(col("ts")).as("t"),
          decp(col("value")).as("v"))
        .withColumn("b", expr(s"t div ${RangeUs}L")))
    iv.join(pr, Seq("b"))
      .filter(col("t") >= col("s") && col("t") < col("e"))
      .groupBy(col("iv_id"))
      .agg(count(lit(1)).as("n_in_window"), dsum(col("v")).as("sum_value"))
      .orderBy("iv_id")
  }

  val rangeJoinBucketedSql: String =
    s"""WITH iv AS (SELECT event_id AS iv_id, epoch_us(ts) AS s,
                      epoch_us(ts) + $RangeUs AS e
                    FROM events WHERE event_type = 'error'),
       ev AS (SELECT epoch_us(ts) AS t, ${sqlDecp("value")} AS v FROM events)
       SELECT iv_id, COUNT(*) AS n_in_window, ${sqlDsum("v")} AS sum_value
       FROM iv JOIN ev ON ev.t >= iv.s AND ev.t < iv.e
       GROUP BY iv_id ORDER BY iv_id"""

  /** Output cap for the scale-safe range-join sibling. */
  private[graft] val RangeTopK = 3

  /** Sweep cell width: 8 interval lengths. Every interval's window lies
    * inside [its cell, its cell + RangeUs), so probes in the first
    * RangeUs of a cell are duplicated into the previous cell (1/8 = a
    * 12.5% replication tax) and each cell sweeps independently. Cell
    * row count is bounded by 8×(interval length × peak density) — the
    * knob to shrink under extreme per-hour density, trading replication
    * for bound.
    */
  private[graft] val RjCellUs = RangeUs * 8

  private[graft] final case class RjIn(
      cell: Long, t: Long, vu: Long, id: Long, iv: Boolean)
  private[graft] final case class RjHit(iv_id: Long, rk: Int, event_id: Long)

  /** Output-capped range join — the 100 TB-safe twin of
    * [[rangeJoinBucketed]] (which is pair-emitting and therefore
    * density²-bound: ×100 joined pairs at the sf1.0 gate's ×10 daily
    * density, measured exponent 1.67 — SURVEY §7a.1). Each interval
    * keeps only its top-[[RangeTopK]] probes by value, so the OUTPUT
    * is K × |intervals| no matter how dense the stream gets — and so
    * is the WORK, because the candidate pair stream is never formed:
    *
    * Events are hashed into time cells of [[RjCellUs]] (probes in a
    * cell's first interval-length duplicated into the predecessor, so
    * every window is locally complete), sorted within partitions by
    * (cell, t), and swept per cell with two monotone pointers + an
    * ordered multiset — O(n log n) per cell, output K per interval.
    * Total: one linear shuffle of events + a per-cell sweep; no pair
    * stream, no pair sort, no pair aggregation. mapPartitions is
    * deliberate here (the SURVEY rule's case (d)): a monotone
    * two-pointer sweep has no Catalyst expression, and both relational
    * forms were MEASURED OUT at the sf1.0 gate — the pair-emitting
    * aggregate is density²; the WindowGroupLimit rank-filter form (the
    * obvious composition) sorts the full pair stream map-side before
    * its partial limit can drop anything: 219 s at sf1.0 vs 1.9 s at
    * sf0.1, exponent ≈ 2.06, the worst plan on the board. The sweep's
    * only materialization is ONE CELL of rows at a time.
    *
    * The pair-emitting [[rangeJoinBucketed]] stays registered as this
    * key's audit (the dedup-tier exact/approx pattern); DuckDB's native
    * IEJoin + rank window is the value oracle.
    */
  def rangeJoinTopK(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id").as("id"), unix_micros(col("ts")).as("t"),
        (decp(col("value")) * lit(10000)).cast("long").as("vu"),
        (col("event_type") === "error").as("iv"))
    rangeTopkHitsOn(ev).toDF()
      .join(Tables.events(s, dir)
        .select(col("event_id"), decp(col("value")).as("v")), "event_id")
      .select(col("iv_id"), col("rk"), col("event_id"),
        col("v").cast("double").as("v"))
      .orderBy("iv_id", "rk")
  }

  /** The cell-hash + per-cell-sweep core of [[rangeJoinTopK]] over any
    * (id, t, vu, iv) frame — separated so the streaming twin's spec can
    * run the SAME batch sweep over the same rows and compare
    * pair-for-pair ([[graft.streaming.Streaming.rangeTopkHitsOf]] keys
    * its state by the same cells and calls the same [[sweepCell]]).
    */
  private[graft] def rangeTopkHitsOn(ev: DataFrame)
      : org.apache.spark.sql.Dataset[RjHit] = {
    val s = ev.sparkSession
    import s.implicits._
    val home = ev.withColumn("cell", expr(s"t div ${RjCellUs}L"))
    val dup = ev.filter(expr(s"t % ${RjCellUs}L") < lit(RangeUs))
      .withColumn("cell", expr(s"t div ${RjCellUs}L") - 1)
      .withColumn("iv", lit(false)) // duplicates never open intervals
    home.unionByName(dup)
      .select("cell", "t", "vu", "id", "iv")
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "t", "id")
      .as[RjIn]
      .mapPartitions { it =>
        // group consecutive same-cell runs, sweep each independently
        val base = it.buffered
        val cells = new Iterator[IndexedSeq[RjIn]] {
          def hasNext: Boolean = base.hasNext
          def next(): IndexedSeq[RjIn] = {
            val c = base.head.cell
            val b = scala.collection.mutable.ArrayBuffer.empty[RjIn]
            while (base.hasNext && base.head.cell == c) b += base.next()
            b.toIndexedSeq
          }
        }
        cells.flatMap(sweepCell)
      }
  }

  /** One cell's sweep: rows sorted by t; intervals (iv rows) visited in
    * start order advance an enter pointer (t < s + RangeUs) and an evict
    * pointer (t < s) over an ordered multiset keyed (vu desc, t, id),
    * whose first K members are the interval's exact top-k.
    */
  private[graft] def sweepCell(rows: IndexedSeq[RjIn]): Iterator[RjHit] = {
    implicit val ord: Ordering[(Long, Long, Long)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.Long, Ordering.Long)
    val live = scala.collection.mutable.TreeSet.empty[(Long, Long, Long)]
    var lo = 0
    var hi = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[RjHit]
    rows.foreach { r =>
      if (r.iv) {
        while (hi < rows.length && rows(hi).t < r.t + RangeUs) {
          val p = rows(hi); live.add((p.vu, p.t, p.id)); hi += 1
        }
        while (lo < rows.length && rows(lo).t < r.t) {
          val p = rows(lo); live.remove((p.vu, p.t, p.id)); lo += 1
        }
        var rk = 1
        val top = live.iterator
        while (rk <= RangeTopK && top.hasNext) {
          out += RjHit(r.id, rk, top.next()._3); rk += 1
        }
      }
    }
    out.iterator
  }

  val rangeJoinTopKSql: String =
    s"""WITH iv AS (SELECT event_id AS iv_id, epoch_us(ts) AS s,
                      epoch_us(ts) + $RangeUs AS e
                    FROM events WHERE event_type = 'error'),
       ev AS (SELECT event_id, epoch_us(ts) AS t, ${sqlDecp("value")} AS v
              FROM events),
       j AS (SELECT iv_id, ev.event_id, t, v,
               ROW_NUMBER() OVER (PARTITION BY iv_id
                 ORDER BY v DESC, t, ev.event_id) AS rk
             FROM iv JOIN ev ON ev.t >= iv.s AND ev.t < iv.e)
       SELECT iv_id, CAST(rk AS INT) AS rk, event_id,
              CAST(CAST(v AS VARCHAR) AS DOUBLE) AS v
       FROM j WHERE rk <= $RangeTopK ORDER BY iv_id, rk"""

  /** Top terms per document. */
  private val TfidfTopK = 3

  /** TF-IDF top-k terms per document — term frequency weighted by
    * inverse document frequency, with RAW idf (score = tf/df, one
    * exact BIGINT/BIGINT IEEE division) instead of the textbook
    * log-damped form: libm `ln` is not correctly-rounded, so its last
    * ulp may differ between engines and the whole point of this
    * registry is bit-exact cross-engine results. Within a document the
    * raw and log forms rank identically whenever df alone decides (tf
    * equal), and the damping constant is irrelevant to top-k selection
    * here. Shape: two narrow (token-projected) aggregations and one
    * equi-join of (doc,term)-level rows — the df side is
    * term-cardinality sized. Deterministic top-k tie-break on term.
    */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    // tf feeds BOTH the scores and the df aggregate; without the
    // localCheckpoint Catalyst recomputes the branch and the corpus is
    // scanned+tokenized TWICE (the dedup_clusters lineage-cut pattern;
    // measured ~10% here at sf0.1, and the saving is a full corpus pass
    // so it grows with scale)
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val score = col("tf").cast("double") / col("df").cast("double")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        score.as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopK)
      .orderBy("doc_id", "rank")
  }

  val tfidfTopTermsSql: String =
    s"""WITH tok AS (SELECT doc_id, UNNEST(${sqlToks("lower(text)")}) AS term
                     FROM documents),
       tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       sc AS (SELECT t.doc_id, t.term, t.tf, df.df,
                CAST(t.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
                ROW_NUMBER() OVER (PARTITION BY t.doc_id
                  ORDER BY CAST(t.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC,
                           t.term) AS rank
              FROM tf t JOIN df ON t.term = df.term)
       SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
       FROM sc WHERE rank <= $TfidfTopK ORDER BY doc_id, rank"""

  /** The 100 TB form of [[percentileGroup]]: Spark's built-in
    * `approx_percentile` (Greenwald-Khanna mergeable sketch) — bounded
    * per-partition state, map-side partials, no per-group sort. This is
    * what replaces exact index selection when one group spans billions
    * of rows. Rows-only gate (DuckDB's approx algorithm differs by
    * design); StatsSpec pins the GK error bound against the exact
    * percentiles. Output is scalar columns (not the raw sketch array):
    * downstream consumers — including the driver's row-hash — want a
    * flat frame.
    */
  def approxQuantile(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(lower(trim(col("o_orderpriority"))).as("prio"),
        decp(col("o_totalprice")).cast("double").as("price"))
      .groupBy("prio")
      .agg(
        expr("approx_percentile(price, array(0.5, 0.9, 0.99), 10000)")
          .as("quantiles"),
        count(lit(1)).as("n"))
      .select(col("prio"), col("quantiles")(0).as("ap50"),
        col("quantiles")(1).as("ap90"), col("quantiles")(2).as("ap99"),
        col("n"))
      .orderBy("prio")

  /** Median absolute deviation per group — the robust-statistics twin
    * of [[anomalyZscore]] (MAD shrugs off the outliers that inflate a
    * z-score's sigma). Same engine-portable discipline as
    * [[percentileGroup]]: both medians are ACTUAL selected values
    * (lower median at index (n+1) div 2, unique tie-breaks), the
    * deviation is a single IEEE subtraction of exact-decimal-derived
    * doubles. Two partitioned window passes over the group — parallel
    * across groups, no global window.
    */
  def madPerGroup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.orders(s, dir)
      .select(lower(trim(col("o_orderpriority"))).as("prio"),
        decp(col("o_totalprice")).cast("double").as("price"),
        col("o_orderkey"))
    val w = Window.partitionBy(col("prio"))
      .orderBy(col("price"), col("o_orderkey"))
    val wn = Window.partitionBy(col("prio"))
    val med = t
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wn))
      .groupBy("prio")
      .agg(max(when(col("rn") === expr("(cnt + 1) div 2"), col("price")))
        .as("med"), max(col("cnt")).as("n"))
    val wd = Window.partitionBy(col("prio"))
      .orderBy(col("dev"), col("o_orderkey"))
    t.join(broadcast(med), "prio")
      .withColumn("dev", abs(col("price") - col("med")))
      .withColumn("rn", row_number().over(wd))
      .groupBy("prio")
      .agg(max(col("med")).as("med"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("dev")))
          .as("mad"),
        max(col("n")).as("n"))
      .orderBy("prio")
  }

  val madPerGroupSql: String =
    s"""WITH t AS (SELECT lower(trim(o_orderpriority)) AS prio,
                     CAST(${sqlDecp("o_totalprice")} AS DOUBLE) AS price,
                     o_orderkey
                   FROM orders),
       r AS (SELECT prio, price, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY prio
                 ORDER BY price, o_orderkey) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY prio) AS BIGINT) AS cnt
             FROM t),
       med AS (SELECT prio,
                 MAX(CASE WHEN rn = (cnt + 1) // 2 THEN price END) AS med,
                 MAX(cnt) AS n
               FROM r GROUP BY prio),
       d AS (SELECT t.prio, abs(t.price - med.med) AS dev, t.o_orderkey,
               med.med, med.n,
               ROW_NUMBER() OVER (PARTITION BY t.prio
                 ORDER BY abs(t.price - med.med), t.o_orderkey) AS rn
             FROM t JOIN med USING (prio))
       SELECT prio, MAX(med) AS med,
              MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad,
              MAX(n) AS n
       FROM d GROUP BY prio ORDER BY prio"""

  /** Trailing-7-day distinct active users per day (rolling WAU — the
    * engagement dashboard's flagship number). COUNT(DISTINCT) OVER a
    * RANGE frame isn't a thing in either engine, and a per-day
    * self-join over the event log is O(days * corpus); instead each
    * distinct (user, day) fans out to the <= 7 window-days it
    * contributes to — a BOUNDED 7x multiplier on the already-collapsed
    * distinct pairs, never on raw events — then one distinct-agg per
    * window day. First 6 days are honest partial windows; fan-out past
    * the span is clipped against the (1-row, broadcast) max-day frame.
    */
  def rollingActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val mx = Tables.events(s, dir).agg(max(to_date(col("ts"))).as("max_day"))
    ud.select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(6))).as("i"))
      .select(col("user_id"), expr("date_add(day, i)").as("wday"))
      .crossJoin(broadcast(mx))
      .filter(col("wday") <= col("max_day"))
      .groupBy("wday")
      .agg(countDistinct(col("user_id")).as("active_users_7d"))
      .orderBy("wday")
  }

  val rollingActiveUsersSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                   FROM events),
       mx AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events),
       fan AS (SELECT user_id, day + CAST(i AS INT) AS wday
               FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i) t)
       SELECT wday, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                AS active_users_7d
       FROM fan, mx WHERE wday <= max_day
       GROUP BY 1 ORDER BY 1"""

  /** Per-group mode (most frequent value, deterministic tie-break):
    * dominant order priority per market segment. Two single-shuffle
    * aggs + a partitioned top-1 window over group-cardinality rows.
    */
  def modePerGroup(s: SparkSession, dir: String): DataFrame = {
    val j = Tables.orders(s, dir).join(
      Tables.customer(s, dir),
      col("o_custkey") === col("c_custkey"))
      .select(lower(trim(col("c_mktsegment"))).as("seg"),
        lower(trim(col("o_orderpriority"))).as("prio"))
    val w = Window.partitionBy(col("seg")).orderBy(col("n").desc, col("prio"))
    j.groupBy("seg", "prio").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("seg"), col("prio").as("mode_prio"), col("n"), col("rk"))
      .orderBy("seg")
  }

  val modePerGroupSql: String =
    """WITH j AS (SELECT lower(trim(c.c_mktsegment)) AS seg,
                    lower(trim(o.o_orderpriority)) AS prio
                  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       cnt AS (SELECT seg, prio, COUNT(*) AS n FROM j GROUP BY 1, 2),
       r AS (SELECT seg, prio, n,
               ROW_NUMBER() OVER (PARTITION BY seg ORDER BY n DESC, prio) AS rk
             FROM cnt)
       SELECT seg, prio AS mode_prio, n, CAST(rk AS INT) AS rk
       FROM r WHERE rk = 1 ORDER BY seg"""

  /** Daily-count anomaly detection by z-score, bit-portable: the group
    * moments are EXACT BIGINT sums (sx, sxx, n — each < 2^53 so their
    * double images are exact), and mean/variance/z are a fixed sequence
    * of single IEEE operations both engines execute identically —
    * population variance as (n*sxx - sx^2)/n^2, sqrt is
    * correctly-rounded by IEEE-754. No engine stddev() (those make no
    * cross-engine bit guarantees). Shape: daily agg (1 shuffle), tiny
    * per-type moment frame broadcast back, map-side z. The
    * monitoring-layer twin of [[gapFillFfill]].
    */
  def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val st = d.groupBy(col("event_type").as("et"))
      .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        count(lit(1)).as("n"))
    // a zero-variance series has no z scale: NULL z and NULL verdict
    // (the ANSI rule; ConstantCorpusSpec pins the class)
    val z = when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
      (col("x").cast("double") - col("sx").cast("double") / col("n").cast("double")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
          (col("n") * col("n")).cast("double")))
    d.join(broadcast(st), col("event_type") === col("et"))
      .select(col("event_type"), col("day"), col("x"), z.as("z"))
      .withColumn("anomaly", abs(col("z")) >= 2.0)
      .orderBy("event_type", "day")
  }

  val anomalyZscoreSql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                    CAST(COUNT(*) AS BIGINT) AS x
                  FROM events GROUP BY 1, 2),
       st AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM d GROUP BY 1),
       z AS (SELECT d.event_type, d.day, d.x,
               CASE WHEN st.n * st.sxx - st.sx * st.sx > 0 THEN
                 (CAST(d.x AS DOUBLE) - CAST(st.sx AS DOUBLE) / CAST(st.n AS DOUBLE))
                   / sqrt(CAST(st.n * st.sxx - st.sx * st.sx AS DOUBLE)
                          / CAST(st.n * st.n AS DOUBLE)) END AS z
             FROM d JOIN st ON d.event_type = st.event_type)
       SELECT event_type, day, x, z, (abs(z) >= 2.0) AS anomaly
       FROM z ORDER BY event_type, day"""

  /** Exact per-group Pearson correlation (quantity vs line revenue)
    * from exact decimal moments: n, Σx, Σy, Σxy, Σx², Σy² accumulate in
    * DECIMAL (one shuffle, map-side partials), each moment casts to
    * double once (correctly rounded — (14,4)-scale products stay far
    * below 2^53 in the int scale), and r is a fixed sequence of IEEE
    * ops both engines execute identically. No engine `corr()` — those
    * accumulate in running doubles whose partial-sum order is
    * partition-dependent, which breaks both cross-engine parity AND
    * re-run determinism at scale.
    */
  def corrExact(s: SparkSession, dir: String): DataFrame = {
    val x = decp(col("l_quantity"))
    val y = decp(col("l_extendedprice"))
    val m = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"), x.as("x"), y.as("y"))
      .groupBy("flag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
    // constant x or y zeroes a variance: r undefined -> NULL in both
    // engines (the ANSI rule; ConstantCorpusSpec pins the class)
    m.select(col("flag"), col("n").cast("long").as("n"),
        when((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy")) > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy")))).as("r"))
      .orderBy("flag")
  }

  val corrExactSql: String = {
    val x = sqlDecp("l_quantity")
    val y = sqlDecp("l_extendedprice")
    // DuckDB stores DECIMAL(<=18) in int64 and multiplies in-width, so
    // (14,4)x(14,4) products overflow; widening one operand to (19,4)
    // forces int128 arithmetic. Same numeric values, scale 8, exact.
    val xw = "CAST(l_quantity AS DECIMAL(19,4))"
    val yw = "CAST(l_extendedprice AS DECIMAL(19,4))"
    s"""WITH m AS (SELECT l_returnflag AS flag,
                     CAST(COUNT(*) AS DOUBLE) AS n,
                     ${sqlDsum(x)} AS sx, ${sqlDsum(y)} AS sy,
                     ${sqlDsum(s"$xw * $yw")} AS sxy,
                     ${sqlDsum(s"$xw * $xw")} AS sxx,
                     ${sqlDsum(s"$yw * $yw")} AS syy
                   FROM lineitem GROUP BY 1)
       SELECT flag, CAST(n AS BIGINT) AS n,
              CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0 THEN
                (n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r
       FROM m ORDER BY flag"""
  }

  /** First-order PARTIAL correlation of quantity and line price
    * CONTROLLING for discount, per return flag — the confounder check
    * [[corrExact]] cannot make ("quantity and price correlate; is that
    * just the discount policy moving both?"):
    * r_xy·z = (r_xy − r_xz·r_zy) / √((1−r_xz²)(1−r_zy²)), all three
    * Pearson r's from ONE scan's exact decimal moments (the corrExact
    * arithmetic tripled), the composition one identical double tree in
    * both engines. Any zero variance or a perfectly-confounded control
    * (|r·z| = 1) leaves the statistic undefined — NULL, the §7b rule
    * (ConstantCorpusSpec drives exactly that corpus). Scale: one
    * lineitem scan, flag-cardinality aggregate, all map-side partials.
    * (round 7)
    */
  def partialCorrelation(s: SparkSession, dir: String): DataFrame = {
    val x = decp(col("l_quantity"))
    val y = decp(col("l_extendedprice"))
    val z = decp(col("l_discount"))
    val m = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"), x.as("x"), y.as("y"),
        z.as("z"))
      .groupBy("flag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("z")).cast("double").as("sz"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("z")).cast("double").as("sxz"),
        sum(col("y") * col("z")).cast("double").as("syz"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("z") * col("z")).cast("double").as("szz"))
    // staged selects: each division appears EXACTLY ONCE inside its own
    // guard — repeated r subtrees would be CSE-hoisted out of the
    // CaseWhen by codegen and evaluated unconditionally, throwing
    // DIVIDE_BY_ZERO on a zero-variance group under ANSI
    val v = m.select(col("flag"), col("n"),
      (col("n") * col("sxx") - col("sx") * col("sx")).as("vx"),
      (col("n") * col("syy") - col("sy") * col("sy")).as("vy"),
      (col("n") * col("szz") - col("sz") * col("sz")).as("vz"),
      (col("n") * col("sxy") - col("sx") * col("sy")).as("cxy"),
      (col("n") * col("sxz") - col("sx") * col("sz")).as("cxz"),
      (col("n") * col("syz") - col("sy") * col("sz")).as("czy"))
    val rs = v.select(col("flag"), col("n"),
      when(col("vx") > 0 && col("vy") > 0 && col("vz") > 0,
        col("cxy") / sqrt(col("vx") * col("vy"))).as("r_xy"),
      when(col("vx") > 0 && col("vy") > 0 && col("vz") > 0,
        col("cxz") / sqrt(col("vx") * col("vz"))).as("r_xz"),
      when(col("vx") > 0 && col("vy") > 0 && col("vz") > 0,
        col("czy") / sqrt(col("vy") * col("vz"))).as("r_zy"))
    rs.select(col("flag"), col("n").cast("long").as("n"),
        col("r_xy"), col("r_xz"), col("r_zy"),
        when(col("r_xy").isNotNull &&
          (lit(1.0) - col("r_xz") * col("r_xz"))
            * (lit(1.0) - col("r_zy") * col("r_zy")) > 0,
          (col("r_xy") - col("r_xz") * col("r_zy")) /
            sqrt((lit(1.0) - col("r_xz") * col("r_xz"))
              * (lit(1.0) - col("r_zy") * col("r_zy"))))
          .as("r_partial"))
      .orderBy("flag")
  }

  val partialCorrelationSql: String = {
    val x = sqlDecp("l_quantity")
    val y = sqlDecp("l_extendedprice")
    val z = sqlDecp("l_discount")
    // the corrExact widening: force int128 decimal products in DuckDB
    val xw = "CAST(l_quantity AS DECIMAL(19,4))"
    val yw = "CAST(l_extendedprice AS DECIMAL(19,4))"
    val zw = "CAST(l_discount AS DECIMAL(19,4))"
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      s"((n * $sab - $sa * $sb) / sqrt((n * $saa - $sa * $sa) * (n * $sbb - $sb * $sb)))"
    val rxy = r("sxy", "sx", "sy", "sxx", "syy")
    val rxz = r("sxz", "sx", "sz", "sxx", "szz")
    val rzy = r("syz", "sy", "sz", "syy", "szz")
    val defined = "(n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0" +
      " AND (n * szz - sz * sz) > 0"
    s"""WITH m AS (SELECT l_returnflag AS flag,
                     CAST(COUNT(*) AS DOUBLE) AS n,
                     ${sqlDsum(x)} AS sx, ${sqlDsum(y)} AS sy,
                     ${sqlDsum(z)} AS sz,
                     ${sqlDsum(s"$xw * $yw")} AS sxy,
                     ${sqlDsum(s"$xw * $zw")} AS sxz,
                     ${sqlDsum(s"$yw * $zw")} AS syz,
                     ${sqlDsum(s"$xw * $xw")} AS sxx,
                     ${sqlDsum(s"$yw * $yw")} AS syy,
                     ${sqlDsum(s"$zw * $zw")} AS szz
                   FROM lineitem GROUP BY 1)
       SELECT flag, CAST(n AS BIGINT) AS n,
              CASE WHEN $defined THEN $rxy END AS r_xy,
              CASE WHEN $defined THEN $rxz END AS r_xz,
              CASE WHEN $defined THEN $rzy END AS r_zy,
              CASE WHEN $defined
                    AND (1.0 - $rxz * $rxz) * (1.0 - $rzy * $rzy) > 0 THEN
                ($rxy - $rxz * $rzy)
                  / sqrt((1.0 - $rxz * $rxz) * (1.0 - $rzy * $rzy))
              END AS r_partial
       FROM m ORDER BY flag"""
  }

  /** Rank-function window suite per market segment: ntile quartile,
    * percent_rank, cume_dist over customers by balance. Every window
    * orders with a unique tie-break (custkey) — without it percent_rank
    * and ntile are partition-order-dependent and no two runs (let alone
    * engines) agree. Partitioned windows only: parallel per segment.
    */
  def windowRankSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("seg"))
      .orderBy(col("bal").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), lower(trim(col("c_mktsegment"))).as("seg"),
        decp(col("c_acctbal")).cast("double").as("bal"))
      .select(col("seg"), col("c_custkey"), col("bal"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("seg", "c_custkey")
  }

  val windowRankSuiteSql: String =
    s"""WITH t AS (SELECT c_custkey, lower(trim(c_mktsegment)) AS seg,
                     CAST(${sqlDecp("c_acctbal")} AS DOUBLE) AS bal
                   FROM customer)
       SELECT seg, c_custkey, bal,
              CAST(NTILE(4) OVER (PARTITION BY seg
                ORDER BY bal DESC, c_custkey) AS INT) AS quartile,
              PERCENT_RANK() OVER (PARTITION BY seg
                ORDER BY bal DESC, c_custkey) AS pct_rank,
              CUME_DIST() OVER (PARTITION BY seg
                ORDER BY bal DESC, c_custkey) AS cume
       FROM t ORDER BY seg, c_custkey"""

  /** Navigation/value window functions over the same deterministic
    * ordering: lead/lag with defaults, first/last/nth_value with an
    * explicit full frame (last_value under the default frame is the
    * classic current-row trap in BOTH engines — the explicit
    * UNBOUNDED..UNBOUNDED frame is the portable, intended semantics).
    * Completes the window API surface next to [[windowRankSuite]]'s
    * rank family; same single partitioned-window shape at scale.
    */
  def windowValueSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("seg"))
      .orderBy(col("bal").desc, col("c_custkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.customer(s, dir)
      .select(col("c_custkey"), lower(trim(col("c_mktsegment"))).as("seg"),
        decp(col("c_acctbal")).cast("double").as("bal"))
      .select(col("seg"), col("c_custkey"), col("bal"),
        lag(col("bal"), 1, -1.0).over(w).as("prev_bal"),
        lead(col("bal"), 1, -1.0).over(w).as("next_bal"),
        first(col("bal")).over(wf).as("top_bal"),
        last(col("bal")).over(wf).as("bottom_bal"),
        nth_value(col("bal"), 3).over(wf).as("third_bal"))
      .orderBy("seg", "c_custkey")
  }

  val windowValueSuiteSql: String = {
    val ord = "PARTITION BY seg ORDER BY bal DESC, c_custkey"
    val frame =
      s"$ord ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    s"""WITH t AS (SELECT c_custkey, lower(trim(c_mktsegment)) AS seg,
                     CAST(${sqlDecp("c_acctbal")} AS DOUBLE) AS bal
                   FROM customer)
       SELECT seg, c_custkey, bal,
              LAG(bal, 1, -1.0) OVER ($ord) AS prev_bal,
              LEAD(bal, 1, -1.0) OVER ($ord) AS next_bal,
              FIRST_VALUE(bal) OVER ($frame) AS top_bal,
              LAST_VALUE(bal) OVER ($frame) AS bottom_bal,
              NTH_VALUE(bal, 3) OVER ($frame) AS third_bal
       FROM t ORDER BY seg, c_custkey"""
  }

  /** Equi-depth (quartile) histogram of order totals: ntile assigns
    * each row its depth-balanced bin, then one agg per bin — the
    * data-adaptive complement of [[histogramBins]]' fixed-width bins
    * (equal mass per bin instead of equal width). The global ntile
    * window is PARTITIONED by order-year, so the sort spreads; at 100 TB
    * the exact global quantile cutpoints would come from
    * [[approxQuantile]]'s sketch instead.
    */
  def histogramEquidepth(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("yr"))
      .orderBy(col("p"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("yr"),
        decp(col("o_totalprice")).as("p"), col("o_orderkey"))
      .withColumn("bin", ntile(4).over(w))
      .groupBy("yr", "bin")
      .agg(count(lit(1)).as("n"),
        min(col("p")).cast("double").as("lo"),
        max(col("p")).cast("double").as("hi"),
        dsum(col("p")).as("sum_price"))
      .orderBy("yr", "bin")
  }

  val histogramEquidepthSql: String =
    s"""WITH t AS (SELECT CAST(year(o_orderdate) AS INT) AS yr,
                     ${sqlDecp("o_totalprice")} AS p, o_orderkey
                   FROM orders),
       b AS (SELECT yr, p,
               NTILE(4) OVER (PARTITION BY yr ORDER BY p, o_orderkey) AS bin
             FROM t)
       SELECT yr, CAST(bin AS INT) AS bin, COUNT(*) AS n,
              CAST(MIN(p) AS DOUBLE) AS lo, CAST(MAX(p) AS DOUBLE) AS hi,
              ${sqlDsum("p")} AS sum_price
       FROM b GROUP BY yr, bin ORDER BY yr, bin"""

  /** Rolling 7-day window over the daily event series per type — a
    * RANGE frame over the integer day index, not a ROWS frame: gap days
    * carry no row, and a ROWS-frame "last 7 rows" would silently reach
    * back weeks across gaps. The window is partitioned per type and
    * runs over the (tiny) daily aggregate, not raw events; sums are
    * exact BIGINTs.
    */
  def rollingWindowRange(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("day_idx"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
      .rangeBetween(-6, Window.currentRow)
    daily.select(col("event_type"), col("day_idx"), col("n"),
        sum(col("n")).over(w).as("n_7d"),
        count(lit(1)).over(w).as("days_present_7d"))
      .orderBy("event_type", "day_idx")
  }

  val rollingWindowRangeSql: String =
    """WITH daily AS (SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx,
             COUNT(*) AS n
           FROM events GROUP BY 1, 2)
       SELECT event_type, CAST(day_idx AS INT) AS day_idx, n,
              CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
              COUNT(*) OVER w AS days_present_7d
       FROM daily
       WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
       ORDER BY event_type, day_idx"""

  /** DAU/WAU stickiness ratio per day — the engagement-health metric
    * over [[rollingActiveUsers]]: daily distinct actives divided by
    * the trailing-7-day distinct actives (a user active every day
    * scores 1.0; a once-a-week user 1/7). Both counts come from the
    * same DISTINCT (user, day) frame — the bounded 7x fan-out serves
    * WAU, a plain daily distinct serves DAU — joined on the day; the
    * ratio is one IEEE division on exact BIGINTs. DAU <= WAU by
    * construction (spec-pinned). (round 4)
    */
  def dauWauStickiness(s: SparkSession, dir: String): DataFrame = {
    val wau = rollingActiveUsers(s, dir)
    val dau = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("wday")).distinct()
      .groupBy("wday")
      .agg(countDistinct(col("user_id")).as("dau"))
    wau.join(dau, Seq("wday"))
      .select(col("wday"), col("dau"),
        col("active_users_7d").as("wau"),
        (col("dau").cast("double") / col("active_users_7d").cast("double"))
          .as("stickiness"))
      .orderBy("wday")
  }

  val dauWauStickinessSql: String =
    s"""WITH wau AS (SELECT * FROM ($rollingActiveUsersSql)),
       dau AS (SELECT day AS wday,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
               FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                     FROM events) GROUP BY 1)
       SELECT w.wday, d.dau, w.active_users_7d AS wau,
              CAST(d.dau AS DOUBLE) / CAST(w.active_users_7d AS DOUBLE)
                AS stickiness
       FROM wau w JOIN dau d ON w.wday = d.wday
       ORDER BY w.wday"""

  /** Cumulative distinct users by day (the growth-curve dashboard
    * metric): COUNT(DISTINCT) over an expanding window is
    * O(days x users) done naively, but "distinct so far" is just a
    * running sum of FIRST-SEEN flags — one row_number over the
    * per-user distinct frame, one daily aggregate, one running sum
    * over the day-cardinality series. The same first-seen trick is how
    * a 100 TB growth curve avoids re-scanning history per day.
    * (round 4)
    */
  def cumulativeUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
    val newUsers = firstSeen.groupBy("day")
      .agg(count(lit(1)).as("nu"))
    // complete calendar spine (the gapFillFfill pattern): days with no
    // first-seen users carry an explicit 0 so the curve has no holes
    val spine = ev
      .agg(to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val daily = broadcast(spine)
      .join(newUsers, Seq("day"), "left")
      .select(col("day"), coalesce(col("nu"), lit(0L)).as("new_users"))
    // bucketed by year: no global single-task window even though the
    // day series is calendar-bounded
    Keys.prefixSums(daily, Nil, year(col("day")), Seq(col("day")), Seq("new_users"))
      .select(col("day"), col("new_users"),
        col("cum_new_users").as("cumulative_users"))
      .orderBy("day")
  }

  val cumulativeUsersSql: String =
    """WITH fs AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS day
                   FROM events GROUP BY 1),
       nu AS (SELECT day, COUNT(*) AS nu FROM fs GROUP BY 1),
       spine AS (SELECT UNNEST(generate_series(
                   (SELECT MIN(CAST(ts AS DATE)) FROM events),
                   (SELECT MAX(CAST(ts AS DATE)) FROM events),
                   INTERVAL 1 DAY))::DATE AS day),
       daily AS (SELECT s.day, year(s.day) AS yr,
                   CAST(COALESCE(nu.nu, 0) AS BIGINT) AS new_users
                 FROM spine s LEFT JOIN nu ON s.day = nu.day),
       yt AS (SELECT yr, CAST(SUM(new_users) AS BIGINT) AS yt
              FROM daily GROUP BY 1),
       offs AS (SELECT a.yr, CAST(COALESCE(SUM(b.yt), 0) AS BIGINT) AS off
                FROM yt a LEFT JOIN yt b ON b.yr < a.yr
                GROUP BY a.yr)
       SELECT d.day, d.new_users,
              CAST(SUM(d.new_users) OVER (PARTITION BY d.yr ORDER BY d.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                + o.off AS cumulative_users
       FROM daily d JOIN offs o ON d.yr = o.yr
       ORDER BY day"""

  /** Interpolated (percentile_cont) per-group percentiles — completes
    * the percentile API next to [[percentileGroup]]'s percentile_disc
    * and the GK sketch: value = v_lo + (v_hi - v_lo) * frac at
    * fractional rank 1 + (n-1)p. Engines disagree on their built-in
    * interpolation arithmetic, so the index math here is PURE INTEGERS
    * (p as the exact rational a/b: lo = 1 + ((n-1)a) div b, frac =
    * ((n-1)a mod b)/b) and the interpolation is one identical IEEE
    * multiply-add on doubles — hash-portable where engine
    * percentile()/quantile_cont() are not. Same single partitioned
    * window as the disc form. (round 4)
    */
  def percentileCont(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("prio"))
      .orderBy(col("price"), col("o_orderkey"))
    val wn = Window.partitionBy(col("prio"))
    Tables.orders(s, dir)
      .select(lower(trim(col("o_orderpriority"))).as("prio"),
        decp(col("o_totalprice")).cast("double").as("price"),
        col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wn))
      .withColumn("lo50", expr("1 + (cnt - 1) div 2"))
      .withColumn("m50", expr("(cnt - 1) % 2"))
      .withColumn("lo95", expr("1 + ((cnt - 1) * 19) div 20"))
      .withColumn("m95", expr("((cnt - 1) * 19) % 20"))
      .groupBy("prio")
      .agg(
        max(when(col("rn") === col("lo50"), col("price"))).as("v50lo"),
        max(when(col("rn") === col("lo50") +
          when(col("m50") > 0, 1).otherwise(0), col("price"))).as("v50hi"),
        max(when(col("rn") === col("lo95"), col("price"))).as("v95lo"),
        max(when(col("rn") === col("lo95") +
          when(col("m95") > 0, 1).otherwise(0), col("price"))).as("v95hi"),
        max(col("m50")).as("m50"), max(col("m95")).as("m95"),
        max(col("cnt")).as("n"))
      .select(col("prio"), col("n"),
        (col("v50lo") + (col("v50hi") - col("v50lo")) *
          (col("m50").cast("double") / lit(2.0))).as("p50"),
        (col("v95lo") + (col("v95hi") - col("v95lo")) *
          (col("m95").cast("double") / lit(20.0))).as("p95"))
      .orderBy("prio")
  }

  val percentileContSql: String =
    s"""WITH t AS (SELECT lower(trim(o_orderpriority)) AS prio,
                     CAST(${sqlDecp("o_totalprice")} AS DOUBLE) AS price,
                     o_orderkey
                   FROM orders),
       r AS (SELECT prio, price,
               ROW_NUMBER() OVER (PARTITION BY prio ORDER BY price, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY prio) AS cnt
             FROM t),
       i AS (SELECT prio, price, rn, cnt,
               1 + (cnt - 1) // 2 AS lo50, (cnt - 1) % 2 AS m50,
               1 + ((cnt - 1) * 19) // 20 AS lo95,
               ((cnt - 1) * 19) % 20 AS m95
             FROM r),
       g AS (SELECT prio,
               MAX(CASE WHEN rn = lo50 THEN price END) AS v50lo,
               MAX(CASE WHEN rn = lo50 + (CASE WHEN m50 > 0 THEN 1 ELSE 0 END)
                   THEN price END) AS v50hi,
               MAX(CASE WHEN rn = lo95 THEN price END) AS v95lo,
               MAX(CASE WHEN rn = lo95 + (CASE WHEN m95 > 0 THEN 1 ELSE 0 END)
                   THEN price END) AS v95hi,
               MAX(m50) AS m50, MAX(m95) AS m95, MAX(cnt) AS n
             FROM i GROUP BY prio)
       SELECT prio, n,
              v50lo + (v50hi - v50lo) * (CAST(m50 AS DOUBLE) / 2.0) AS p50,
              v95lo + (v95hi - v95lo) * (CAST(m95 AS DOUBLE) / 20.0) AS p95
       FROM g ORDER BY prio"""

  /** Per-group OLS regression (order total vs. order day) from EXACT
    * moments — the trend-line twin of [[corrExact]], and for the same
    * reason: engine `regr_slope()` accumulates doubles in partition
    * order, which can never hash-match across engines. Here x is an
    * integer day index and y an exact decimal, so n/Σx/Σx² are exact
    * BIGINTs and Σy/Σxy/Σy² exact decimal sums; the closing
    * slope/intercept/r² arithmetic is one fixed sequence of IEEE double
    * ops on bit-identical operands in both engines. ONE aggregation
    * pass with map-side partials — at 100 TB the fitted line costs the
    * same shuffle as a COUNT(*) per group. (round 4)
    */
  def regressionSlope(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.orders(s, dir).select(
      lower(trim(col("o_orderpriority"))).as("prio"),
      datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
        .cast("long").as("x"),
      decp(col("o_totalprice")).as("y"))
    t.groupBy("prio")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        dsum(col("y")).as("sy"),
        dsum(decp(col("x")) * col("y")).as("sxy"),
        dsum(col("y") * col("y")).as("syy"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("cov", col("nd") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("nd") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("nd") * col("syy") - col("sy") * col("sy"))
      // constant x (or y) zeroes den (or vy): NULL fit, never a
      // zero-division (the ANSI rule)
      .select(col("prio"), col("n"),
        when(col("den") =!= 0.0, col("cov") / col("den")).as("slope"),
        when(col("den") =!= 0.0,
          (col("sy") - (col("cov") / col("den")) * col("sx")) / col("nd"))
          .as("intercept"),
        when(col("den") * col("vy") =!= 0.0,
          (col("cov") * col("cov")) / (col("den") * col("vy"))).as("r2"))
      .orderBy("prio")
  }

  val regressionSlopeSql: String =
    // DECIMAL(19,4) operands force DuckDB into int128 multiplication —
    // (14,4)x(14,4) products overflow its in-width int64 path (the
    // corrExactSql lesson). Same numeric values, scale 8, exact.
    s"""WITH t AS (SELECT lower(trim(o_orderpriority)) AS prio,
                     CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                       AS BIGINT) AS x,
                     ${sqlDecp("o_totalprice")} AS y,
                     CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                       AS DECIMAL(19,4)) AS xw,
                     CAST(o_totalprice AS DECIMAL(19,4)) AS yw
                   FROM orders),
       m AS (SELECT prio, COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               ${sqlDsum("y")} AS sy,
               ${sqlDsum("xw * yw")} AS sxy,
               ${sqlDsum("yw * yw")} AS syy
             FROM t GROUP BY prio),
       f AS (SELECT prio, n, CAST(n AS DOUBLE) AS nd, sx, sy, sxx, sxy, syy
             FROM m),
       g AS (SELECT prio, n, nd, sx, sy,
               nd * sxy - sx * sy AS cov,
               nd * sxx - sx * sx AS den,
               nd * syy - sy * sy AS vy
             FROM f)
       SELECT prio, n,
              CASE WHEN den <> 0 THEN cov / den END AS slope,
              CASE WHEN den <> 0 THEN (sy - (cov / den) * sx) / nd END
                AS intercept,
              CASE WHEN den * vy <> 0 THEN (cov * cov) / (den * vy) END AS r2
       FROM g ORDER BY prio"""

  /** Winsorized aggregates: per-group p05/p95 cutpoints by index
    * selection (actually-selected rows — bit-portable, like
    * [[percentileGroup]]), then every value clipped into [p05, p95]
    * before summing — the robust-mean answer to heavy tails that a
    * plain AVG can't give. Two passes over the group: one partitioned
    * rank window for the cutpoints (a group-count frame survives), one
    * broadcast join-back + aggregate. Never a global window; at 100 TB
    * the cutpoint frame is |groups| rows and the clip is map-side.
    * (round 4)
    */
  def winsorizeClip(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.orders(s, dir).select(
      lower(trim(col("o_orderpriority"))).as("prio"),
      decp(col("o_totalprice")).as("price"), col("o_orderkey"))
    val w = Window.partitionBy(col("prio"))
      .orderBy(col("price"), col("o_orderkey"))
    val wn = Window.partitionBy(col("prio"))
    val cuts = t.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wn))
      .groupBy("prio")
      .agg(
        max(when(col("rn") === expr("(5 * cnt + 99) div 100"), col("price")))
          .as("p05"),
        max(when(col("rn") === expr("(95 * cnt + 99) div 100"), col("price")))
          .as("p95"))
    // CASE instead of greatest/least: DuckDB's GREATEST/LEAST degrade
    // DECIMAL args to DOUBLE (sum would then carry FP accumulation
    // dust); a CASE keeps the exact decimal type in both engines.
    t.join(broadcast(cuts), Seq("prio"))
      .withColumn("clipped",
        when(col("price") < col("p05"), col("p05"))
          .when(col("price") > col("p95"), col("p95"))
          .otherwise(col("price")))
      .groupBy("prio")
      .agg(count(lit(1)).as("n"),
        sum(when(col("price") < col("p05"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("price") > col("p95"), 1L).otherwise(0L)).as("n_hi"),
        dsum(col("clipped")).as("sum_winsorized"),
        max(col("p05")).cast("double").as("p05"),
        max(col("p95")).cast("double").as("p95"))
      .orderBy("prio")
  }

  val winsorizeClipSql: String =
    s"""WITH t AS (SELECT lower(trim(o_orderpriority)) AS prio,
                     ${sqlDecp("o_totalprice")} AS price, o_orderkey
                   FROM orders),
       r AS (SELECT prio, price,
               ROW_NUMBER() OVER (PARTITION BY prio ORDER BY price, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY prio) AS cnt
             FROM t),
       cuts AS (SELECT prio,
                  MAX(CASE WHEN rn = (5 * cnt + 99) // 100 THEN price END) AS p05,
                  MAX(CASE WHEN rn = (95 * cnt + 99) // 100 THEN price END) AS p95
                FROM r GROUP BY prio),
       j AS (SELECT t.prio, t.price, cuts.p05, cuts.p95,
               CASE WHEN t.price < cuts.p05 THEN cuts.p05
                    WHEN t.price > cuts.p95 THEN cuts.p95
                    ELSE t.price END AS clipped
             FROM t JOIN cuts ON t.prio = cuts.prio)
       SELECT prio, COUNT(*) AS n,
              CAST(SUM(CASE WHEN price < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
              CAST(SUM(CASE WHEN price > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
              ${sqlDsum("clipped")} AS sum_winsorized,
              CAST(CAST(MAX(p05) AS VARCHAR) AS DOUBLE) AS p05,
              CAST(CAST(MAX(p95) AS VARCHAR) AS DOUBLE) AS p95
       FROM j GROUP BY prio ORDER BY prio"""

  /** Daily new-vs-returning user split — the acquisition/retention
    * dashboard header next to [[dauWauStickiness]] ("is growth new
    * blood or the same users coming back"): a user is NEW on their
    * first-ever active day, RETURNING every active day after.
    * Window-free and exact: the distinct (day, user) frame feeds both
    * the daily count and the min-day-per-user aggregate; the split is
    * one left join on the day. Scale: the distinct pre-agg is the
    * only corpus-sized shuffle; everything after is calendar- or
    * user-dimension-sized. (round 6)
    */
  def dauNewReturning(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .localCheckpoint() // feeds the first-day agg AND the daily counts
    val daily = du.groupBy("day").agg(count(lit(1)).as("dau"))
    val newu = du.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    daily.join(newu, Seq("day"), "left")
      .select(col("day"), col("dau"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        (col("dau") - coalesce(col("new_users"), lit(0L))).as("returning"))
      .orderBy("day")
  }

  val dauNewReturningSql: String =
    """WITH du AS MATERIALIZED (
         SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
                 FROM du GROUP BY 1),
       newu AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
                FROM (SELECT user_id, MIN(day) AS day FROM du GROUP BY 1)
                GROUP BY 1)
       SELECT d.day, d.dau,
              CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
              d.dau - CAST(COALESCE(n.new_users, 0) AS BIGINT) AS returning
       FROM daily d LEFT JOIN newu n ON d.day = n.day
       ORDER BY d.day"""

  /** User power curve — events-per-user DECILES ("do 10% of users
    * generate 80% of the traffic", the engagement-concentration twin
    * of pareto_coverage's revenue cut): per-user counts rank through
    * [[graft.functions.Keys.denseIds]]' two-phase bucket rank (NO
    * global window — the 10^9-user killer), decile = ((rk−1)·10) div N
    * in BIGINT, and each decile reports its user count, event mass and
    * share. Deciles ascend by activity: decile 9 is the whale tier.
    * Scale: one user-cardinality agg, the parallel rank, a 10-row
    * output. (round 6)
    */
  def userActivityDeciles(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val ranked = graft.functions.Keys.denseIds(
      cnt, Seq.empty, Seq("cnt", "user_id"), "rk")
    val tot = cnt.agg(count(lit(1)).as("nu"), sum(col("cnt")).as("ne"))
    ranked.crossJoin(broadcast(tot))
      .select(expr("((cast(rk as bigint) - 1) * 10) div nu").as("decile"),
        col("cnt"), col("ne"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("cnt")).as("n_events"),
        first(col("ne")).as("ne"))
      .select(col("decile"), col("n_users"), col("n_events"),
        (col("n_events").cast("double") / col("ne").cast("double"))
          .as("event_share"))
      .orderBy("decile")
  }

  val userActivityDecilesSql: String =
    """WITH cnt AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM events GROUP BY 1),
       r AS (SELECT user_id, cnt,
                    ROW_NUMBER() OVER (ORDER BY cnt, user_id) AS rk
             FROM cnt),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu,
                      CAST(SUM(cnt) AS BIGINT) AS ne
               FROM cnt)
       SELECT ((rk - 1) * 10) // t.nu AS decile,
              CAST(COUNT(*) AS BIGINT) AS n_users,
              CAST(SUM(cnt) AS BIGINT) AS n_events,
              CAST(SUM(cnt) AS DOUBLE) / CAST(t.ne AS DOUBLE) AS event_share
       FROM r CROSS JOIN tot t
       GROUP BY 1, t.ne ORDER BY decile"""

  /** Order-fulfillment (ship) lag quartiles per priority — "does
    * paying for urgency buy delivery time" (the operations twin of
    * percentile_group's price quantiles): lag = ship − order date
    * in integer days over the lineitem×orders join, quartiles by the
    * same partitioned index-selection windows (index convention
    * (p·(cnt+1)) div 4 — deterministic, no interpolation), mean from
    * exact integer day sums. Scale: ONE fact×fact equi-join shuffle
    * (the q12 shape — at 100 TB this is bucketed-layout territory,
    * Warehouse.writeBucketed), then priority-partitioned windows.
    * (round 6)
    */
  def fulfillmentLagQuartiles(s: SparkSession, dir: String): DataFrame =
    fulfillmentLagFrom(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"), col("l_linenumber")),
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")))

  /** The operator body over explicit inputs — the seam the bucketed
    * layout plugs into: feed both sides from tables bucketed+sorted on
    * the order key ([[graft.sources.Warehouse.writeBucketed]]) and the
    * fact×fact equi-join plans with ZERO Exchange (pinned by
    * LakeWarehouseSpec's fulfillment test; measured end-to-end at
    * sf0.1 with both sides forced non-broadcast: 1.61 s shuffle-join
    * vs 1.13 s bucketed, best-of-3 — a 1.4× win whose absolute share
    * is the join shuffle's and therefore grows with scale; the §6
    * "bucketed-layout territory at 100 TB" claim, now demonstrated).
    */
  private[graft] def fulfillmentLagFrom(items: DataFrame,
      orders: DataFrame): DataFrame = {
    val t = items
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(lower(trim(col("o_orderpriority"))).as("prio"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("lag"),
        col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("prio"))
      .orderBy(col("lag"), col("l_orderkey"), col("l_linenumber"))
    val wn = Window.partitionBy(col("prio"))
    t.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wn))
      .groupBy("prio")
      .agg(
        max(when(col("rn") === expr("(cnt + 1) div 4"), col("lag"))).as("p25"),
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("lag"))).as("p50"),
        max(when(col("rn") === expr("(3 * cnt + 3) div 4"), col("lag")))
          .as("p75"),
        max(col("cnt")).as("n"),
        sum(col("lag")).as("lag_sum"))
      .select(col("prio"), col("p25"), col("p50"), col("p75"), col("n"),
        (col("lag_sum").cast("double") / col("n").cast("double"))
          .as("mean_lag"))
      .orderBy("prio")
  }

  val fulfillmentLagQuartilesSql: String =
    """WITH t AS (SELECT lower(trim(o.o_orderpriority)) AS prio,
                     CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                    CAST(l.l_shipdate AS DATE))
                          AS BIGINT) AS lag,
                     l.l_orderkey, l.l_linenumber
                   FROM lineitem l JOIN orders o
                     ON l.l_orderkey = o.o_orderkey),
       r AS (SELECT prio, lag,
               ROW_NUMBER() OVER (PARTITION BY prio
                                  ORDER BY lag, l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY prio) AS cnt
             FROM t)
       SELECT prio,
              MAX(CASE WHEN rn = (cnt + 1) // 4 THEN lag END) AS p25,
              MAX(CASE WHEN rn = (cnt + 1) // 2 THEN lag END) AS p50,
              MAX(CASE WHEN rn = (3 * cnt + 3) // 4 THEN lag END) AS p75,
              CAST(MAX(cnt) AS BIGINT) AS n,
              CAST(SUM(lag) AS DOUBLE) / CAST(MAX(cnt) AS DOUBLE) AS mean_lag
       FROM r GROUP BY prio ORDER BY prio"""

  /** Repurchase-cycle quartiles per market segment — "how many days
    * until a customer orders again" ([[fulfillmentLagQuartiles]] times
    * the supply side; this times the demand side — the
    * inventory-planning number behind every repeat-purchase business):
    * per-customer consecutive order gaps from one customer-partitioned
    * lag window (orderkey tie-break for same-day orders), quartiles by
    * the exact rank-selection rule (the fulfillment idiom: rn =
    * (cnt+1) div 4 — no interpolated percentiles), mean as one double
    * division. Scale: one orders scan, customer-partitioned window,
    * segment-partitioned rank windows, segment-cardinality output.
    * (round 9)
    */
  def repurchaseGapQuartiles(s: SparkSession, dir: String): DataFrame = {
    val wCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev",
        lag(col("o_orderdate"), 1).over(wCust))
      .filter(col("prev").isNotNull)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        datediff(to_date(col("o_orderdate")), to_date(col("prev")))
          .cast("long").as("gap"),
        col("o_orderkey"))
    val w = Window.partitionBy(col("seg"))
      .orderBy(col("gap"), col("o_orderkey"))
    val wn = Window.partitionBy(col("seg"))
    gaps.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wn))
      .groupBy("seg")
      .agg(
        max(when(col("rn") === expr("(cnt + 1) div 4"), col("gap"))).as("p25"),
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("gap"))).as("p50"),
        max(when(col("rn") === expr("(3 * cnt + 3) div 4"), col("gap")))
          .as("p75"),
        max(col("cnt")).as("n"),
        sum(col("gap")).as("gap_sum"))
      .select(col("seg"), col("p25"), col("p50"), col("p75"), col("n"),
        (col("gap_sum").cast("double") / col("n").cast("double"))
          .as("mean_gap"))
      .orderBy("seg")
  }

  val repurchaseGapQuartilesSql: String =
    """WITH g0 AS (SELECT o_custkey, o_orderdate, o_orderkey,
                     LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev
                   FROM orders),
       gaps AS (SELECT c.c_mktsegment AS seg,
                       CAST(date_diff('day', CAST(g0.prev AS DATE),
                                      CAST(g0.o_orderdate AS DATE))
                            AS BIGINT) AS gap,
                       g0.o_orderkey
                FROM g0 JOIN customer c ON g0.o_custkey = c.c_custkey
                WHERE g0.prev IS NOT NULL),
       r AS (SELECT seg, gap,
               ROW_NUMBER() OVER (PARTITION BY seg
                                  ORDER BY gap, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY seg) AS cnt
             FROM gaps)
       SELECT seg,
              MAX(CASE WHEN rn = (cnt + 1) // 4 THEN gap END) AS p25,
              MAX(CASE WHEN rn = (cnt + 1) // 2 THEN gap END) AS p50,
              MAX(CASE WHEN rn = (3 * cnt + 3) // 4 THEN gap END) AS p75,
              CAST(MAX(cnt) AS BIGINT) AS n,
              CAST(SUM(gap) AS DOUBLE) / CAST(MAX(cnt) AS DOUBLE) AS mean_gap
       FROM r GROUP BY seg ORDER BY seg"""

  def queries: Seq[Q] = Seq(
    Q("fulfillment_lag_quartiles",
      Some(fulfillmentLagQuartilesSql))(fulfillmentLagQuartiles),
    Q("repurchase_gap_quartiles",
      Some(repurchaseGapQuartilesSql))(repurchaseGapQuartiles),
    Q("user_activity_deciles",
      Some(userActivityDecilesSql))(userActivityDeciles),
    Q("dau_new_returning", Some(dauNewReturningSql))(dauNewReturning),
    Q("percentile_group", Some(percentileGroupSql))(percentileGroup),
    Q("percentile_cont", Some(percentileContSql))(percentileCont),
    Q("cumulative_users", Some(cumulativeUsersSql))(cumulativeUsers),
    Q("dau_wau_stickiness", Some(dauWauStickinessSql))(dauWauStickiness),
    Q("regression_slope", Some(regressionSlopeSql))(regressionSlope),
    Q("winsorize_clip", Some(winsorizeClipSql))(winsorizeClip),
    Q("rolling_window_range", Some(rollingWindowRangeSql))(rollingWindowRange),
    Q("rolling_active_users", Some(rollingActiveUsersSql))(rollingActiveUsers),
    Q("window_value_suite", Some(windowValueSuiteSql))(windowValueSuite),
    Q("mad_per_group", Some(madPerGroupSql))(madPerGroup),
    Q("corr_exact", Some(corrExactSql))(corrExact),
    Q("partial_correlation", Some(partialCorrelationSql))(
      partialCorrelation),
    Q("window_rank_suite", Some(windowRankSuiteSql))(windowRankSuite),
    Q("histogram_equidepth", Some(histogramEquidepthSql))(histogramEquidepth),
    Q("histogram_bins", Some(histogramBinsSql))(histogramBins),
    Q("gap_fill_ffill", Some(gapFillFfillSql))(gapFillFfill),
    Q("range_join_bucketed", Some(rangeJoinBucketedSql), bench = true,
      auditTier = true)(rangeJoinBucketed),
    Q("range_join_topk", Some(rangeJoinTopKSql))(rangeJoinTopK),
    Q("tfidf_top_terms", Some(tfidfTopTermsSql), bench = true)(tfidfTopTerms),
    Q("mode_per_group", Some(modePerGroupSql))(modePerGroup),
    Q("anomaly_zscore", Some(anomalyZscoreSql))(anomalyZscore),
    Q("approx_quantile", None)(approxQuantile),
    Q("quantile_sketch_rollup", None)(quantileSketchRollup),
    Q("rolling_actives_sketch", None)(rollingActivesSketch))

  /** The sketch-store form of [[rollingActiveUsers]]: 7-day rolling
    * distinct actives from per-day HLL blobs. The exact operator fans
    * out the (user, day) DISTINCT frame 7x and re-counts per window —
    * at 100 TB that shuffles |users|x7 rows; this fans out ONE 4 KiB
    * blob per day and folds windows by register-max merge, so the
    * rolling shuffle is calendar-sized (days x 7 blobs) no matter how
    * many users exist. Same bounded fan-out shape (no global window —
    * the guard the exact twin established); estimates carry HLL's
    * ~1.6% relative error at p=12, spec-bounded against the exact
    * counts. Rows-only (approx by design). (round 4)
    */
  def rollingActivesSketch(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("graft_hll_sketch(CAST(user_id AS STRING), 12)").as("sk"))
    val mx = Tables.events(s, dir).agg(max(to_date(col("ts"))).as("max_day"))
    daily.select(col("day"), col("sk"),
        explode(sequence(lit(0), lit(6))).as("i"))
      .select(expr("date_add(day, i)").as("wday"), col("sk"))
      .crossJoin(broadcast(mx))
      .filter(col("wday") <= col("max_day"))
      .groupBy("wday")
      .agg(count(lit(1)).as("n_days"),
        expr("graft_hll_est(graft_hll_merge(sk))").as("approx_actives_7d"))
      .orderBy("wday")
  }

  /** Weekly price quantiles from MERGED daily DDSketches
    * ([[graft.plans.DdSketch]]) — the quantile member of the sketch-
    * store architecture: per-day blobs persist once, any coarser
    * rollup (week here; month, tenant, all-time the same way) is
    * bucket-wise blob addition + an O(buckets) walk, never a rescan
    * and never a per-key sort. The estimates carry DDSketch's 1%
    * RELATIVE-error guarantee on the value, which is the right error
    * model for price/latency tails. Rows-only key (approximate by
    * construction); the error bound, merge determinism, and parquet
    * round-trip are spec-pinned like the HLL/CMS tiers.
    */
  def quantileSketchRollup(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("graft_dds_sketch(o_totalprice)").as("sk"))
    daily
      .groupBy(expr("datediff(day, DATE '1970-01-01') div 7").as("week"))
      .agg(expr("graft_dds_merge(sk)").as("wsk"),
        count(lit(1)).as("n_days"))
      .select(col("week"), col("n_days"),
        expr("graft_dds_quantile(wsk, 0.5D)").as("p50"),
        expr("graft_dds_quantile(wsk, 0.95D)").as("p95"),
        expr("graft_dds_quantile(wsk, 0.99D)").as("p99"))
      .orderBy("week")
  }
}
