package graft.operators

import graft.Q
import graft.functions.Keys
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical inference & market-structure analytics — the hypothesis-
  * testing / concentration / chain-dynamics layer a labor-market
  * dashboard asks for above plain aggregates (reference surfaces the
  * aggregates; these are the standard analyst follow-ups:
  * "is priority independent of status", "how concentrated is each
  * market", "where does the event chain settle").
  *
  * Every operator keeps the engine's central numeric contract
  * (SURVEY §5): no transcendentals, no order-dependent double sums.
  * All accumulation is exact BIGINT/DECIMAL; ratios surface as ONE
  * double division per output cell at the very end (bit-identical in
  * Spark and DuckDB on identical exact inputs). Where a sum of
  * rationals is needed (chi-square, resource allocation), each term is
  * first floored to a fixed-point BIGINT (`x div y` / DuckDB `//`) so
  * the sum is an exact integer — the same discipline as
  * [[Graph.pagerankSkills]].
  */
object Inference {

  /** Fixed-point scale for chi-square cell contributions (1.0 == 10^6:
    * chi2 <= N * min(r,c), so the scaled sum stays far under 2^63 for
    * any N <= 10^12; a larger corpus drops the scale, documented not
    * tuned). The divisor n*rt*ct is widened to DECIMAL(38,0)/HUGEINT
    * in BOTH engines (it reaches N^3 ~ 10^36 at the documented bound,
    * far past 2^63 — a BIGINT product would overflow around N ~ 10^7),
    * so the numerator's DECIMAL(38,0) dev^2 is the only binding cap. */
  val Chi2Scale = 1000000L

  /** Chi-square test of independence between order priority and order
    * status — the contingency-table operator (TPC-H-shaped twin of the
    * reference's contract-type x seniority cross-tabs).
    *
    * Exactness: observed counts, row/column totals and N are BIGINTs;
    * the deviation N*obs - rt*ct is squared in DECIMAL(38,0) (it can
    * reach ~5e20, past 2^63) and floored to a scaled BIGINT per cell;
    * the chi2 total is then an EXACT integer sum. `expected` and
    * `contrib` surface as per-cell double divisions of exact integers.
    * Scale: three tiny broadcast aggregates over one scan of orders —
    * the contingency table is |priorities| x |statuses| regardless of
    * row count.
    */
  def chi2Independence(s: SparkSession, dir: String): DataFrame =
    chi2(Tables.orders(s, dir)
      .select(col("o_orderpriority").as("prio"),
        col("o_orderstatus").as("status")))

  /** Scored contingency cells shared by [[chi2]] and [[cramersV]]:
    * (prio, status, obs, rt, ct, n, nr, nc, c6) with c6 the exact
    * fixed-point cell contribution. */
  private def chi2Scored(pairsDf: DataFrame): DataFrame = {
    // checkpoint: the contingency table feeds FOUR divergent branches
    // (row totals, column totals, grand total, the scored join) — the
    // §7a rule's compact post-agg frame; without it each branch
    // re-scans the input
    val cells = pairsDf
      .groupBy(col("prio"), col("status"))
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint()
    val rowT = cells.groupBy("prio").agg(sum(col("obs")).as("rt"))
    val colT = cells.groupBy("status").agg(sum(col("obs")).as("ct"))
    val tot = cells.agg(sum(col("obs")).as("n"),
      countDistinct(col("prio")).as("nr"),
      countDistinct(col("status")).as("nc"))
    cells
      .join(broadcast(rowT), Seq("prio"))
      .join(broadcast(colT), Seq("status"))
      .crossJoin(broadcast(tot))
      .withColumn("dev",
        (col("n") * col("obs") - col("rt") * col("ct")).cast("decimal(38,0)"))
      .withColumn("c6",
        expr(s"(dev * dev * ${Chi2Scale}L) div " +
          "(cast(n as decimal(38,0)) * rt * ct)"))
  }

  /** Core over any two-categorical frame with columns (prio, status). */
  def chi2(pairsDf: DataFrame): DataFrame = {
    val scored = chi2Scored(pairsDf)
    val total = scored.agg(sum(col("c6")).as("chi6"))
    scored.crossJoin(broadcast(total))
      .select(col("prio"), col("status"), col("obs"),
        ((col("rt") * col("ct")).cast("double") / col("n").cast("double"))
          .as("expected"),
        (col("c6").cast("double") / lit(Chi2Scale.toDouble)).as("contrib"),
        (col("chi6").cast("double") / lit(Chi2Scale.toDouble)).as("chi2"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"))
      .orderBy("prio", "status")
  }

  /** Shared CTE chain producing the `scored` cells frame ([[chi2Scored]]'s
    * SQL twin) — reused by [[chi2IndependenceSql]] and [[cramersVSql]]. */
  private val chi2CtesSql: String =
    s"""cells AS (
         SELECT o_orderpriority AS prio, o_orderstatus AS status,
                CAST(COUNT(*) AS BIGINT) AS obs
         FROM orders GROUP BY 1, 2),
       rt AS (SELECT prio, CAST(SUM(obs) AS BIGINT) AS rt FROM cells GROUP BY 1),
       ct AS (SELECT status, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY 1),
       tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n,
                      CAST(COUNT(DISTINCT prio) AS BIGINT) AS nr,
                      CAST(COUNT(DISTINCT status) AS BIGINT) AS nc
               FROM cells),
       scored AS (
         SELECT c.prio, c.status, c.obs, rt.rt, ct.ct, t.n, t.nr, t.nc,
                CAST(((CAST(t.n AS HUGEINT) * c.obs - CAST(rt.rt AS HUGEINT) * ct.ct)
                      * (CAST(t.n AS HUGEINT) * c.obs - CAST(rt.rt AS HUGEINT) * ct.ct)
                      * $Chi2Scale)
                     // (CAST(t.n AS HUGEINT) * rt.rt * ct.ct) AS BIGINT) AS c6
         FROM cells c JOIN rt ON c.prio = rt.prio
                      JOIN ct ON c.status = ct.status
                      CROSS JOIN tot t)"""

  val chi2IndependenceSql: String =
    s"""WITH $chi2CtesSql,
       total AS (SELECT CAST(SUM(c6) AS BIGINT) AS chi6 FROM scored)
       SELECT s.prio, s.status, s.obs,
              CAST(s.rt * s.ct AS DOUBLE) / CAST(s.n AS DOUBLE) AS expected,
              CAST(s.c6 AS DOUBLE) / ${Chi2Scale}.0 AS contrib,
              CAST(t.chi6 AS DOUBLE) / ${Chi2Scale}.0 AS chi2,
              (s.nr - 1) * (s.nc - 1) AS dof
       FROM scored s CROSS JOIN total t
       ORDER BY prio, status"""

  /** Herfindahl-Hirschman market-concentration index: per nation, how
    * concentrated is order revenue across its customers (the antitrust
    * metric; the reference's per-source offer-share tables are the same
    * question at the source level).
    *
    * HHI = 10^4 * sum(share_i^2) = 10^4 * sum(rev_i^2) / (sum rev_i)^2:
    * both sums are EXACT DECIMAL (rev_i is a DECIMAL(14,4) sum; its
    * square at DECIMAL(18,4)^2 stays within 38 digits in both engines'
    * widening rules), so the index is one double division of two exact
    * decimals. Scale: groupBy (nation, customer) then nation — two
    * narrow shuffles of money columns, dims broadcast.
    */
  def hhiConcentration(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Nums._
    val rev = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("c_custkey"))
      .agg(sum(decp(col("o_totalprice"))).as("rev"))
      .withColumn("rev18", col("rev").cast("decimal(18,4)"))
    rev.groupBy("nation")
      .agg(count(lit(1)).as("n_firms"),
        sum(col("rev")).cast("double").as("total_rev"),
        sum(col("rev18") * col("rev18")).as("ssq"))
      .select(col("nation"), col("n_firms"), col("total_rev"),
        (lit(10000.0) * col("ssq").cast("double")
          / (col("total_rev") * col("total_rev"))).as("hhi"))
      .orderBy("nation")
  }

  val hhiConcentrationSql: String = {
    import graft.functions.Nums._
    s"""WITH rev AS (
         SELECT n.n_name AS nation, o.o_custkey,
                SUM(${sqlDecp("o.o_totalprice")}) AS rev
         FROM orders o
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1, 2)
       SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_firms,
              CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS total_rev,
              10000.0 * CAST(CAST(SUM(CAST(rev AS DECIMAL(19,4))
                                      * CAST(rev AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE)
                / (CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE)) AS hhi
       FROM rev GROUP BY nation ORDER BY nation"""
  }

  /** Simpson diversity of users per event type — "how spread is this
    * event across users" (the ecology diversity index; entropy's
    * log-free sibling, chosen because it is EXACTLY computable:
    * unbiased Simpson = sum n_i*(n_i-1) / (N*(N-1)) is a ratio of two
    * exact BIGINTs, where Shannon entropy would need per-row logs and
    * an order-dependent double sum). gini_simpson = 1 - simpson is the
    * probability two random events of the type come from different
    * users. Scale: one narrow (type, user) agg then a type-sized agg.
    */
  def diversitySimpson(s: SparkSession, dir: String): DataFrame = {
    val peru = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("ni"))
    peru.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(col("ni")).as("n_events"),
        sum(col("ni") * (col("ni") - 1)).as("coll"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        (col("coll").cast("double")
          / (col("n_events") * (col("n_events") - 1)).cast("double"))
          .as("simpson"))
      .withColumn("gini_simpson", lit(1.0) - col("simpson"))
      .orderBy("event_type")
  }

  val diversitySimpsonSql: String =
    """WITH peru AS (
         SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS ni
         FROM events GROUP BY 1, 2)
       SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
              CAST(SUM(ni) AS BIGINT) AS n_events,
              CAST(SUM(ni * (ni - 1)) AS DOUBLE)
                / CAST(SUM(ni) * (SUM(ni) - 1) AS DOUBLE) AS simpson,
              1.0 - CAST(SUM(ni * (ni - 1)) AS DOUBLE)
                / CAST(SUM(ni) * (SUM(ni) - 1) AS DOUBLE) AS gini_simpson
       FROM peru GROUP BY event_type ORDER BY event_type"""

  /** Stationary-distribution fixed-point scale (1.0 == 10^12). */
  val PiScale = 1000000000000L

  /** Unrolled power-iteration count: the event-type chain has a
    * handful of states, and each sweep contracts geometrically; 12
    * sweeps pin ~12 significant digits at PiScale for any well-mixed
    * chain this size. */
  val MarkovIters = 12

  /** Stationary distribution of the user event-type Markov chain —
    * "where does a long session settle" (the steady-state twin of
    * `event_transitions`, which reports the one-step probabilities).
    *
    * Power iteration in fixed-point BIGINT ([[Graph.pagerankSkills]]
    * discipline): pi' (j) = sum_i (pi_i * n_ij) div n_i, every step
    * exact integer multiply/floor-divide/sum — bit-identical across
    * engines and partitionings, which a double-valued iteration could
    * never be. Transition counts are normalized ONCE up front into
    * fixed-point probabilities prob = (n * PiScale) div n_from with the
    * product widened to DECIMAL(38,0)/HUGEINT, and each sweep computes
    * (pi * prob) div PiScale the same way — so no raw event count ever
    * enters a BIGINT product and the operator carries no event-volume
    * bound (a naive (pi * n) div n_from overflows once any single
    * transition count passes ~9e6). States with no outgoing transition
    * keep their mass via an explicit self-loop (the dangling-node fix).
    * Mass leaks at most |states| ulps per sweep to flooring
    * (documented; pi sums to ~PiScale, not exactly). Scale: the
    * transition matrix is |types|^2-sized no matter how many events;
    * each sweep is one tiny shuffle, the corpus is scanned once for
    * counts.
    */
  def markovStationary(s: SparkSession, dir: String): DataFrame =
    markovStationaryFrom(Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("event_id")))

  /** Core over any (user_id, event_type, t, event_id) sequence frame. */
  def markovStationaryFrom(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val pairs = ev
      .select(col("user_id"), col("event_type").as("from_type"),
        col("t"), col("event_id"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val outdeg = pairs.groupBy(col("from_type").as("st"))
      .agg(sum(col("n")).as("n_from"))
    val states = pairs.select(col("from_type").as("st"))
      .union(pairs.select(col("to_type").as("st"))).distinct()
    // dangling states (never a from_type) hold their mass via a 1/1
    // self-loop; all others carry their real outgoing counts
    val edges = pairs
      .join(outdeg, col("from_type") === col("st"))
      .select(col("from_type").as("f"), col("to_type").as("tt"),
        col("n"), col("n_from"))
      .union(states.join(outdeg, Seq("st"), "left_anti")
        .select(col("st").as("f"), col("st").as("tt"),
          lit(1L).as("n"), lit(1L).as("n_from")))
      // normalize once: prob <= PiScale regardless of event volume;
      // the product is DECIMAL(38,0) so the raw count never overflows
      .withColumn("prob",
        expr(s"(cast(n as decimal(38,0)) * ${PiScale}L) div n_from"))
      .localCheckpoint()
    val k = states.agg(count(lit(1)).as("k"))
    var pi = states.crossJoin(broadcast(k))
      .select(col("st"), expr(s"${PiScale}L div k").as("p"))
    for (_ <- 1 to MarkovIters) {
      pi = pi.join(edges, pi("st") === edges("f"))
        .select(col("tt"),
          expr(s"(cast(p as decimal(38,0)) * prob) div ${PiScale}L").as("c"))
        .groupBy(col("tt")).agg(sum(col("c")).as("p"))
        .select(col("tt").as("st"), col("p"))
    }
    pi.select(col("st").as("event_type"), col("p").as("pi_scaled"),
        (col("p").cast("double") / lit(PiScale.toDouble)).as("pi"))
      .orderBy("event_type")
  }

  val markovStationarySql: String = {
    def sweep(prev: String, i: Int): String =
      s"""p$i AS (SELECT e.tt AS st,
               CAST(SUM((CAST(p.p AS HUGEINT) * e.prob) // $PiScale) AS BIGINT) AS p
             FROM $prev p JOIN edges e ON p.st = e.f
             GROUP BY e.tt)"""
    s"""WITH pairs AS (
         SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
         FROM (
           SELECT event_type AS from_type,
                  LEAD(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS to_type
           FROM events)
         WHERE to_type IS NOT NULL GROUP BY 1, 2),
       outdeg AS (SELECT from_type AS st, CAST(SUM(n) AS BIGINT) AS n_from
                  FROM pairs GROUP BY 1),
       states AS (SELECT DISTINCT from_type AS st FROM pairs
                  UNION SELECT DISTINCT to_type FROM pairs),
       edges0 AS (
         SELECT p.from_type AS f, p.to_type AS tt, p.n, o.n_from
         FROM pairs p JOIN outdeg o ON p.from_type = o.st
         UNION ALL
         SELECT s.st, s.st, 1, 1 FROM states s
         WHERE s.st NOT IN (SELECT st FROM outdeg)),
       edges AS (
         SELECT f, tt,
                CAST((CAST(n AS HUGEINT) * $PiScale) // n_from AS BIGINT) AS prob
         FROM edges0),
       k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
       p0 AS (SELECT st, $PiScale // k.k AS p FROM states CROSS JOIN k),
       ${(1 to MarkovIters).map(i => sweep(s"p${i - 1}", i)).mkString(",\n       ")}
       SELECT st AS event_type, p AS pi_scaled,
              CAST(p AS DOUBLE) / ${PiScale}.0 AS pi
       FROM p$MarkovIters ORDER BY event_type"""
  }

  /** Resource-allocation fixed-point scale (1.0 == 10^6 per common
    * neighbor; RA sums at most deg(z) terms of 1/deg(z) each, so the
    * scaled sum is bounded by |wedges| * 10^6 — far under 2^63). */
  val RaScale = 1000000L

  /** Link prediction on the skill co-occurrence graph by the
    * resource-allocation index (Zhou/Lu/Zhang 2009): for skills x,y
    * NOT yet co-occurring, RA(x,y) = sum over common neighbors z of
    * 1/deg(z) — the log-free sibling of Adamic-Adar, chosen because
    * 1/deg is exactly representable in fixed point where 1/log(deg)
    * is not (SURVEY §5: no transcendentals in oracled keys).
    * "Which skill pairs are one hire away from co-occurring."
    *
    * Each term floors to RaScale div deg_z (BIGINT), so per-pair
    * scores are exact integer sums — deterministic under any
    * partitioning. Plan shape: wedge join (x-z, z-y) on the shared
    * endpoint — the triangle-count shape, bounded by sum deg(z)^2 —
    * then an anti-join against existing edges; degree table broadcast.
    */
  def linkPredictionRa(s: SparkSession, dir: String): DataFrame =
    linkPredictionFromPairs(Graph.skillEdges(s, dir))

  /** Core over any undirected edge list (skill_a, skill_b), a < b.
    *
    * Join strategy (round 15, guide §3.1): the edge list and its
    * derivatives (deg, eStr) are all VOCABULARY-bounded — the wedge
    * self-join's right side and the existing-edge anti-join side are
    * broadcast explicitly, because the checkpointed cooc frame carries
    * no size statistics and the planner otherwise falls back to
    * sort-merge joins (4 exchanges + 4 sorts over vocabulary-sized
    * frames, plans/r15/link_prediction_ra_*.txt). The wedge OUTPUT
    * (Σ deg(z)², the triangle-count bound) is never broadcast — it
    * streams map-side into the (x, y) aggregate.
    */
  def linkPredictionFromPairs(cooc: DataFrame): DataFrame = {
    val e = Graph.bothWays(cooc)
    val deg = e.groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
    val wedges = e.as("l").join(broadcast(e.as("r")),
        col("l.dst") === col("r.src"))
      .filter(col("l.src") < col("r.dst"))
      .select(col("l.src").as("x"), col("r.dst").as("y"),
        col("l.dst").as("via"))
    // cooc pairs are canonical by skill ID while wedges order by the
    // skill STRING — normalize the edge list to string order so the
    // anti-join removes an existing edge in either orientation
    // (round-6 fix: the id-oriented anti-join let an existing edge
    // survive as a "prediction" whenever its id- and string-orders
    // disagreed)
    val eStr = cooc.select(
      least(col("skill_a"), col("skill_b")).as("sa"),
      greatest(col("skill_a"), col("skill_b")).as("sb"))
    wedges
      .join(broadcast(eStr), wedges("x") === eStr("sa")
        && wedges("y") === eStr("sb"), "left_anti")
      .join(broadcast(deg), col("via") === col("z"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr(s"${RaScale}L div deg")).as("ra6"))
      .select(col("x").as("skill_a"), col("y").as("skill_b"),
        col("common_neighbors"),
        (col("ra6").cast("double") / lit(RaScale.toDouble)).as("ra_score"))
      .orderBy(col("ra_score").desc, col("skill_a"), col("skill_b"))
  }

  val linkPredictionRaSql: String =
    s"""WITH cooc AS (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e AS (SELECT skill_a AS src, skill_b AS dst FROM cooc
             UNION ALL
             SELECT skill_b AS src, skill_a AS dst FROM cooc),
       deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS deg
               FROM e GROUP BY 1),
       wedges AS (
         SELECT l.src AS x, r.dst AS y, l.dst AS via
         FROM e l JOIN e r ON l.dst = r.src
         WHERE l.src < r.dst),
       missing AS (
         SELECT w.x, w.y, w.via FROM wedges w
         WHERE NOT EXISTS (SELECT 1 FROM cooc c
                           WHERE least(c.skill_a, c.skill_b) = w.x
                             AND greatest(c.skill_a, c.skill_b) = w.y))
       SELECT m.x AS skill_a, m.y AS skill_b,
              CAST(COUNT(*) AS BIGINT) AS common_neighbors,
              CAST(CAST(SUM($RaScale // d.deg) AS BIGINT) AS DOUBLE)
                / ${RaScale}.0 AS ra_score
       FROM missing m JOIN deg d ON m.via = d.z
       GROUP BY m.x, m.y
       ORDER BY ra_score DESC, skill_a, skill_b"""

  /** A user counts as churned once this many days pass after their
    * last event without the corpus ending. */
  val ChurnGapDays = 7

  /** Discrete-time survival/hazard table of user lifetimes — the
    * Kaplan-Meier INGREDIENTS (at-risk set, events, per-interval
    * hazard) as a distributed frame. The KM survival curve itself is a
    * running PRODUCT of (1 - hazard) — not expressible as an exact
    * integer aggregate, so the operator ships the exact hazard table
    * (every input to S(t), each cell one double division of two exact
    * BIGINTs) rather than an order-dependent float product
    * (SURVEY §5). Lifetime = weeks from first to last event; a user
    * whose last event is within ChurnGapDays of the corpus end is
    * censored (still alive), matching KM's right-censoring.
    *
    * at_risk(w) = users with lifetime >= w comes from a weeks^2
    * self-join of the tiny weekly aggregate (two aggregate-compacted
    * sides — the cumulative_users offsets pattern, no global window).
    */
  def survivalHazard(s: SparkSession, dir: String): DataFrame =
    survivalHazardFrom(Tables.events(s, dir)
      .select(col("user_id"), col("ts")))

  /** Core over any (user_id, ts) event frame. */
  def survivalHazardFrom(ev: DataFrame): DataFrame = {
    val life = ev
      .groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("first_day"),
        to_date(max(col("ts"))).as("last_day"))
    val end = ev.agg(to_date(max(col("ts"))).as("end_day"))
    val byWeek = life.crossJoin(broadcast(end))
      .select(
        expr("datediff(last_day, first_day) div 7").as("week"),
        (col("last_day") < date_sub(col("end_day"), ChurnGapDays))
          .cast("long").as("churned"))
      .groupBy("week")
      .agg(count(lit(1)).as("ended"), sum(col("churned")).as("churned"))
    byWeek.as("a")
      .join(byWeek.as("b"), col("b.week") >= col("a.week"))
      .groupBy(col("a.week").as("week"), col("a.churned").as("churned"))
      .agg(sum(col("b.ended")).as("at_risk"))
      .select(col("week"), col("at_risk"), col("churned"),
        (col("churned").cast("double") / col("at_risk").cast("double"))
          .as("hazard"))
      .orderBy("week")
  }

  val survivalHazardSql: String =
    s"""WITH life AS (
         SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day,
                CAST(MAX(ts) AS DATE) AS last_day
         FROM events GROUP BY 1),
       fin AS (SELECT CAST(MAX(ts) AS DATE) AS end_day FROM events),
       byweek AS (
         SELECT datediff('day', first_day, last_day) // 7 AS week,
                CAST(COUNT(*) AS BIGINT) AS ended,
                CAST(SUM(CASE WHEN last_day < end_day - $ChurnGapDays
                              THEN 1 ELSE 0 END) AS BIGINT) AS churned
         FROM life CROSS JOIN fin GROUP BY 1)
       SELECT a.week, CAST(SUM(b.ended) AS BIGINT) AS at_risk, a.churned,
              CAST(a.churned AS DOUBLE) / CAST(SUM(b.ended) AS DOUBLE) AS hazard
       FROM byweek a JOIN byweek b ON b.week >= a.week
       GROUP BY a.week, a.churned
       ORDER BY a.week"""

  /** The two order-priority cohorts the rank tests compare: the
    * extremes of the urgency scale, "does urgency shift the price
    * distribution". */
  val RankGroupA = "1-URGENT"
  val RankGroupB = "5-LOW"

  /** Value-range bucket width for the two-phase prefix sums (price
    * units): bucket count scales with the VALUE RANGE, never the row
    * count, so the offsets self-join stays tiny at any corpus size. */
  val RankBucket = 5000L

  /** The [[RankBucket]]-wide price bucket of `v`. */
  private val rankBucket: Column = expr(s"CAST(v AS BIGINT) div $RankBucket")

  /** Distinct-value frame with exact cumulative counts per cohort —
    * shared spine of the rank statistics ([[ksTest]],
    * [[mannWhitneyU]]). Input: (v double, a, b) counts per distinct
    * value. Output adds (ca, cb) = cohort counts over values <= v
    * ([[graft.functions.Keys.prefixSums]] over [[RankBucket]] buckets).
    */
  def cumCounts(vals: DataFrame): DataFrame =
    Keys.prefixSums(vals, Nil, rankBucket, Seq(col("v")), Seq("a", "b"))
      .select(col("v"), col("a"), col("b"), col("cum_a").as("ca"),
        col("cum_b").as("cb"))

  /** Per-distinct-value cohort counts of o_totalprice for the two
    * priority cohorts (the rank tests' shared input). */
  private def priceCohorts(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin(RankGroupA, RankGroupB))
      .groupBy(col("o_totalprice").as("v"))
      .agg(sum(when(col("o_orderpriority") === RankGroupA, 1L)
        .otherwise(0L)).as("a"),
        sum(when(col("o_orderpriority") === RankGroupB, 1L)
          .otherwise(0L)).as("b"))
      // compact post-agg frame consumed by the prefix-sum chain AND
      // the bucket-offset branch AND the totals agg (§7a rule)
      .localCheckpoint()

  private val rankCohortsSql: String =
    s"""SELECT o_totalprice AS v,
              CAST(SUM(CASE WHEN o_orderpriority = '$RankGroupA'
                            THEN 1 ELSE 0 END) AS BIGINT) AS a,
              CAST(SUM(CASE WHEN o_orderpriority = '$RankGroupB'
                            THEN 1 ELSE 0 END) AS BIGINT) AS b
       FROM orders
       WHERE o_orderpriority IN ('$RankGroupA', '$RankGroupB')
       GROUP BY o_totalprice"""

  /** Two-sample Kolmogorov-Smirnov test: does order urgency shift the
    * price distribution? D = max_v |F_a(v) - F_b(v)| computed as an
    * EXACT integer maximum: |ca*n_b - cb*n_a| per distinct value
    * (cumulative counts cross-multiplied — no per-row double division,
    * so the argmax cannot be perturbed by float rounding), divided
    * once at the end. Cumulative counts come from [[cumCounts]]'s
    * two-phase prefix sums; the scan aggregates to distinct prices
    * first, so the windowed frame is |distinct values|-sized.
    */
  def ksTest(s: SparkSession, dir: String): DataFrame =
    ksFrom(priceCohorts(s, dir))

  /** Core over any per-distinct-value cohort frame (v, a, b). */
  def ksFrom(vals: DataFrame): DataFrame = {
    val cc = cumCounts(vals)
    // totals from the input frame, not the windowed chain — one less
    // re-execution of the prefix-sum branch
    val tot = vals.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    cc.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        abs(col("ca") * col("nb") - col("cb") * col("na")).as("dn"))
      .groupBy("na", "nb")
      .agg(max(col("dn")).as("d_num"))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("d_num"),
        (col("d_num").cast("double")
          / (col("na") * col("nb")).cast("double")).as("d_stat"))
  }

  val ksTestSql: String =
    s"""WITH vals AS ($rankCohortsSql),
       cc AS (SELECT v, a, b,
                     CAST(SUM(a) OVER (ORDER BY v) AS BIGINT) AS ca,
                     CAST(SUM(b) OVER (ORDER BY v) AS BIGINT) AS cb
              FROM vals),
       tot AS (SELECT MAX(ca) AS na, MAX(cb) AS nb FROM cc)
       SELECT t.na AS n_a, t.nb AS n_b,
              MAX(ABS(c.ca * t.nb - c.cb * t.na)) AS d_num,
              CAST(MAX(ABS(c.ca * t.nb - c.cb * t.na)) AS DOUBLE)
                / CAST(t.na * t.nb AS DOUBLE) AS d_stat
       FROM cc c CROSS JOIN tot t
       GROUP BY t.na, t.nb"""

  /** Q-Q decile comparison of the two rank-test cohorts — the
    * DISTRIBUTION TABLE a dashboard shows next to [[ksTest]]'s single
    * D statistic ("where exactly do urgent and low-priority prices
    * diverge"): for each decile 1..9, the smallest value whose
    * cohort-cumulative count clears d/10 of the cohort (exact
    * cross-multiplied compare ca·10 ≥ d·n — no float quantile), both
    * cohorts side by side with the gap. Rides [[cumCounts]]'s
    * two-phase prefix sums; the decile fan-out is 9 rows over the
    * distinct-value frame. (round 6)
    */
  def qqDecileCompare(s: SparkSession, dir: String): DataFrame =
    qqFrom(priceCohorts(s, dir))

  /** Core over any per-distinct-value cohort frame (v, a, b). */
  private[operators] def qqFrom(vals: DataFrame): DataFrame = {
    val cc = cumCounts(vals)
    val tot = vals.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    cc.crossJoin(broadcast(tot))
      .select(col("v"), col("ca"), col("cb"), col("na"), col("nb"),
        explode(sequence(lit(1), lit(9))).as("decile"))
      .groupBy("decile")
      // na > 0 / nb > 0 gates: an EMPTY cohort degenerates the compare
      // to 0 >= 0 at every value and would report the global minimum as
      // its "decile" — NULL is the only honest verdict (§7b rule)
      .agg(min(when(col("na") > 0 &&
          col("ca") * 10 >= col("decile") * col("na"), col("v")))
        .as("v_a"),
        min(when(col("nb") > 0 &&
            col("cb") * 10 >= col("decile") * col("nb"), col("v")))
          .as("v_b"))
      .select(col("decile").cast("long").as("decile"), col("v_a"),
        col("v_b"), (col("v_b") - col("v_a")).as("gap"))
      .orderBy("decile")
  }

  val qqDecileCompareSql: String =
    s"""WITH vals AS ($rankCohortsSql),
       cc AS (SELECT v, a, b,
                     CAST(SUM(a) OVER (ORDER BY v) AS BIGINT) AS ca,
                     CAST(SUM(b) OVER (ORDER BY v) AS BIGINT) AS cb
              FROM vals),
       tot AS (SELECT MAX(ca) AS na, MAX(cb) AS nb FROM cc),
       fan AS (SELECT c.v, c.ca, c.cb, t.na, t.nb, d.decile
               FROM cc c CROSS JOIN tot t
                 CROSS JOIN (SELECT UNNEST(generate_series(1, 9)) AS decile) d)
       SELECT CAST(decile AS BIGINT) AS decile,
              MIN(CASE WHEN na > 0 AND ca * 10 >= decile * na THEN v END)
                AS v_a,
              MIN(CASE WHEN nb > 0 AND cb * 10 >= decile * nb THEN v END)
                AS v_b,
              MIN(CASE WHEN nb > 0 AND cb * 10 >= decile * nb THEN v END)
                - MIN(CASE WHEN na > 0 AND ca * 10 >= decile * na THEN v END)
                AS gap
       FROM fan GROUP BY decile ORDER BY decile"""

  /** Mann-Whitney U (Wilcoxon rank-sum) with tie handling, same
    * cohorts as [[ksTest]]. 2*U_a = sum_v a_v * (2*(cb(v) - b_v) + b_v)
    * is an exact BIGINT (each A-observation contributes 2 per B below
    * it, 1 per tied B); the normal-approximation z uses the exact tie
    * correction sum (t^3 - t) in DECIMAL(38,0) and surfaces through
    * one sqrt + one division on exact inputs (sqrt is IEEE
    * correctly-rounded — same bits in both engines).
    */
  def mannWhitneyU(s: SparkSession, dir: String): DataFrame =
    mannWhitneyFrom(priceCohorts(s, dir))

  /** Cliff's delta for the two rank-test cohorts — the NONPARAMETRIC
    * effect size next to [[mannWhitneyU]]'s significance (and the
    * rank-based sibling of [[cohensD]]: no variance assumption, robust
    * to the heavy-tailed prices the mean-based d is not): δ =
    * P(X>Y) − P(X<Y) = 2U_a/(n_a·n_b) − 1 ∈ [−1, 1], computed EXACTLY
    * from the same doubled-U integer the U test accumulates — zero new
    * scan cost, one division, the product widened to DECIMAL(38,0)
    * (n_a·n_b passes BIGINT at ~3e9 rows per cohort). An empty cohort
    * leaves δ undefined — NULL (§7b). (round 7)
    */
  def cliffsDelta(s: SparkSession, dir: String): DataFrame =
    cliffsFrom(priceCohorts(s, dir))

  /** Core over any per-distinct-value cohort frame (v, a, b). */
  private[graft] def cliffsFrom(vals: DataFrame): DataFrame = {
    val cc = cumCounts(vals)
    val tot = vals.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    cc.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        (col("a") * (lit(2L) * (col("cb") - col("b")) + col("b"))).as("u2"))
      .groupBy("na", "nb")
      .agg(sum(col("u2")).as("u2a"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        when(col("na") * col("nb") > 0,
          col("u2a").cast("double")
            / (col("na").cast("decimal(38,0)") * col("nb")).cast("double")
            - lit(1.0)).as("delta"))
  }

  val cliffsDeltaSql: String =
    s"""WITH vals AS ($rankCohortsSql),
       cc AS (SELECT v, a, b,
                     CAST(SUM(a) OVER (ORDER BY v) AS BIGINT) AS ca,
                     CAST(SUM(b) OVER (ORDER BY v) AS BIGINT) AS cb
              FROM vals),
       tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
                      CAST(SUM(b) AS BIGINT) AS nb FROM vals),
       agg AS (SELECT t.na, t.nb,
                      CAST(SUM(c.a * (2 * (c.cb - c.b) + c.b)) AS BIGINT)
                        AS u2a
               FROM cc c CROSS JOIN tot t GROUP BY t.na, t.nb)
       SELECT na AS n_a, nb AS n_b,
              CASE WHEN na * nb > 0 THEN
                CAST(u2a AS DOUBLE)
                  / CAST(CAST(CAST(na AS HUGEINT) * nb AS VARCHAR)
                         AS DOUBLE) - 1.0 END AS delta
       FROM agg"""

  /** Core over any per-distinct-value cohort frame (v, a, b). */
  def mannWhitneyFrom(vals: DataFrame): DataFrame = {
    val cc = cumCounts(vals)
    val tot = vals.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    cc.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        (col("a") * (lit(2L) * (col("cb") - col("b")) + col("b"))).as("u2"),
        ((col("a") + col("b")).cast("decimal(38,0)")
          * (col("a") + col("b")) * (col("a") + col("b"))
          - (col("a") + col("b"))).as("t3t"))
      .groupBy("na", "nb")
      .agg(sum(col("u2")).as("u2a"), sum(col("t3t")).as("ties"))
      // an empty cohort or an all-tied pool zeroes the variance: NULL z
      // (the ANSI rule; ConstantCorpusSpec pins the class)
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        (col("u2a").cast("double") / 2.0).as("u_a"),
        ((col("na") * col("nb")).cast("double")
          - col("u2a").cast("double") / 2.0).as("u_b"),
        when(col("na") * col("nb") > 0 &&
          (col("na") + col("nb")).cast("decimal(38,0)")
            * (col("na") + col("nb")) * (col("na") + col("nb"))
            - (col("na") + col("nb")) - col("ties") > 0,
          (col("u2a").cast("double") / 2.0
            - (col("na") * col("nb")).cast("double") / 2.0)
            / sqrt(
              (col("na") * col("nb")).cast("double") / 12.0
                * (((col("na") + col("nb") + 1)).cast("double")
                  - col("ties").cast("double")
                    / ((col("na") + col("nb")).cast("double")
                      * (col("na") + col("nb") - 1).cast("double")))))
          .as("z"))
  }

  val mannWhitneyUSql: String =
    s"""WITH vals AS ($rankCohortsSql),
       cc AS (SELECT v, a, b,
                     CAST(SUM(a) OVER (ORDER BY v) AS BIGINT) AS ca,
                     CAST(SUM(b) OVER (ORDER BY v) AS BIGINT) AS cb
              FROM vals),
       tot AS (SELECT MAX(ca) AS na, MAX(cb) AS nb FROM cc),
       agg AS (SELECT t.na, t.nb,
                      CAST(SUM(c.a * (2 * (c.cb - c.b) + c.b)) AS BIGINT) AS u2a,
                      SUM(CAST(c.a + c.b AS HUGEINT) * (c.a + c.b) * (c.a + c.b)
                          - (c.a + c.b)) AS ties
               FROM cc c CROSS JOIN tot t
               GROUP BY t.na, t.nb)
       SELECT na AS n_a, nb AS n_b,
              CAST(u2a AS DOUBLE) / 2.0 AS u_a,
              CAST(na * nb AS DOUBLE) - CAST(u2a AS DOUBLE) / 2.0 AS u_b,
              CASE WHEN na * nb > 0 AND
                        CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb)
                          - (na + nb) - ties > 0 THEN
                (CAST(u2a AS DOUBLE) / 2.0 - CAST(na * nb AS DOUBLE) / 2.0)
                  / SQRT(CAST(na * nb AS DOUBLE) / 12.0
                         * (CAST(na + nb + 1 AS DOUBLE)
                            - CAST(ties AS DOUBLE)
                              / (CAST(na + nb AS DOUBLE)
                                 * CAST(na + nb - 1 AS DOUBLE)))) END AS z
       FROM agg"""

  /** Pairwise Welch's t-test of mean event value across event types —
    * the A/B-test operator ("does event type X carry higher value than
    * Y"). Per-type sums and sums-of-squares accumulate in EXACT
    * decimal (the q1_agg money discipline); means, variances, t and
    * the Welch-Satterthwaite df are then pure scalar double expressions
    * over exact inputs, written identically in both engines (sqrt is
    * correctly-rounded). The pair frame is a types^2 self-join of two
    * aggregate-compacted sides.
    */
  def abTestWelch(s: SparkSession, dir: String): DataFrame =
    welchFrom(Tables.events(s, dir).select(col("event_type"), col("value")))

  /** Per-type exact moments (n, mean, sample variance) — ONE
    * definition shared by [[welchFrom]] and [[cohensD]] so the two
    * keys can never disagree on the variance convention. A single-row
    * group has no variance estimate: NULL v (the ANSI rule). */
  private def momentsByType(ev: DataFrame): DataFrame = {
    import graft.functions.Nums._
    ev.select(col("event_type"), decp(col("value")).as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("s"),
        sum(col("x").cast("decimal(18,4)") * col("x").cast("decimal(18,4)"))
          .cast("double").as("ss"))
      .select(col("event_type"), col("n"), (col("s") / col("n")).as("m"),
        when(col("n") > 1,
          (col("ss") - col("s") * col("s") / col("n"))
            / (col("n") - 1).cast("double")).as("v"))
  }

  /** Core over any (event_type, value double) frame. */
  def welchFrom(ev: DataFrame): DataFrame = {
    val g = momentsByType(ev)
    g.as("p").join(g.as("q"), col("p.event_type") < col("q.event_type"))
      .select(col("p.event_type").as("type_a"),
        col("q.event_type").as("type_b"),
        col("p.n").as("n_a"), col("q.n").as("n_b"),
        col("p.m").as("mean_a"), col("q.m").as("mean_b"),
        when(col("p.v") / col("p.n") + col("q.v") / col("q.n") > 0,
          (col("p.m") - col("q.m"))
            / sqrt(col("p.v") / col("p.n") + col("q.v") / col("q.n"))).as("t"),
        // squares as explicit products: pow() is not required to be
        // correctly rounded and differs between Java and C libm
        when(col("p.v") / col("p.n") + col("q.v") / col("q.n") > 0,
          ((col("p.v") / col("p.n") + col("q.v") / col("q.n"))
            * (col("p.v") / col("p.n") + col("q.v") / col("q.n")))
            / ((col("p.v") / col("p.n")) * (col("p.v") / col("p.n"))
              / (col("p.n") - 1)
              + (col("q.v") / col("q.n")) * (col("q.v") / col("q.n"))
                / (col("q.n") - 1)))
          .as("df"))
      .orderBy("type_a", "type_b")
  }

  val abTestWelchSql: String = {
    import graft.functions.Nums._
    s"""WITH g AS (
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                ${sqlDsum(sqlDecp("value"))} AS s,
                CAST(CAST(SUM(CAST(${sqlDecp("value")} AS DECIMAL(18,4))
                              * CAST(${sqlDecp("value")} AS DECIMAL(18,4)))
                     AS VARCHAR) AS DOUBLE) AS ss
         FROM events GROUP BY event_type),
       st AS (SELECT event_type, n, s / n AS m,
                     CASE WHEN n > 1 THEN
                       (ss - s * s / n) / CAST(n - 1 AS DOUBLE) END AS v
              FROM g)
       SELECT p.event_type AS type_a, q.event_type AS type_b,
              p.n AS n_a, q.n AS n_b, p.m AS mean_a, q.m AS mean_b,
              CASE WHEN p.v / p.n + q.v / q.n > 0 THEN
                (p.m - q.m) / SQRT(p.v / p.n + q.v / q.n) END AS t,
              CASE WHEN p.v / p.n + q.v / q.n > 0 THEN
                ((p.v / p.n + q.v / q.n) * (p.v / p.n + q.v / q.n))
                  / ((p.v / p.n) * (p.v / p.n) / (p.n - 1)
                     + (q.v / q.n) * (q.v / q.n) / (q.n - 1)) END AS df
       FROM st p JOIN st q ON p.event_type < q.event_type
       ORDER BY type_a, type_b"""
  }

  /** Cohen's d (+ Hedges' g small-sample correction) for every event-
    * type value pair — the EFFECT-SIZE column next to
    * [[abTestWelch]]'s significance ("the t says the means differ; d
    * says whether anyone should care" — with millions of events every
    * trivial difference is 'significant'): pooled-SD standardized mean
    * difference from the SAME [[momentsByType]] frame as the t test,
    * d = (m_a − m_b)/√(((n_a−1)v_a + (n_b−1)v_b)/(n_a+n_b−2)),
    * g = d·(1 − 3/(4(n_a+n_b)−9)). Staged selects keep the guarded
    * division single-use (the CSE rule); degenerate pairs (pooled
    * variance 0, or too few rows) emit NULL. Scale: one scan, k-row
    * moments, k² pairs. (round 7)
    */
  def cohensD(s: SparkSession, dir: String): DataFrame = {
    val g = momentsByType(
      Tables.events(s, dir).select(col("event_type"), col("value")))
    val pairs = g.as("p")
      .join(g.as("q"), col("p.event_type") < col("q.event_type"))
      .select(col("p.event_type").as("type_a"),
        col("q.event_type").as("type_b"),
        col("p.n").as("n_a"), col("q.n").as("n_b"),
        col("p.m").as("mean_a"), col("q.m").as("mean_b"),
        when(col("p.n") + col("q.n") > 2,
          ((col("p.n") - 1).cast("double") * col("p.v")
            + (col("q.n") - 1).cast("double") * col("q.v"))
            / (col("p.n") + col("q.n") - 2).cast("double")).as("pooled_v"))
    pairs
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"),
        when(col("pooled_v") > 0,
          (col("mean_a") - col("mean_b")) / sqrt(col("pooled_v")))
          .as("d"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"), col("d"),
        (col("d") * (lit(1.0) - lit(3.0)
          / (lit(4.0) * (col("n_a") + col("n_b")).cast("double") - 9.0)))
          .as("hedges_g"))
      .orderBy("type_a", "type_b")
  }

  val cohensDSql: String = {
    import graft.functions.Nums._
    val pooled = "((CAST(p.n - 1 AS DOUBLE) * p.v" +
      " + CAST(q.n - 1 AS DOUBLE) * q.v) / CAST(p.n + q.n - 2 AS DOUBLE))"
    s"""WITH g AS (
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                ${sqlDsum(sqlDecp("value"))} AS s,
                CAST(CAST(SUM(CAST(${sqlDecp("value")} AS DECIMAL(18,4))
                              * CAST(${sqlDecp("value")} AS DECIMAL(18,4)))
                     AS VARCHAR) AS DOUBLE) AS ss
         FROM events GROUP BY event_type),
       st AS (SELECT event_type, n, s / n AS m,
                     CASE WHEN n > 1 THEN
                       (ss - s * s / n) / CAST(n - 1 AS DOUBLE) END AS v
              FROM g),
       pr AS (SELECT p.event_type AS type_a, q.event_type AS type_b,
                     p.n AS n_a, q.n AS n_b, p.m AS mean_a, q.m AS mean_b,
                     CASE WHEN p.n + q.n > 2 THEN $pooled END AS pooled_v
              FROM st p JOIN st q ON p.event_type < q.event_type),
       dd AS (SELECT type_a, type_b, n_a, n_b, mean_a, mean_b,
                     CASE WHEN pooled_v > 0 THEN
                       (mean_a - mean_b) / SQRT(pooled_v) END AS d
              FROM pr)
       SELECT type_a, type_b, n_a, n_b, mean_a, mean_b, d,
              d * (1.0 - 3.0
                   / (4.0 * CAST(n_a + n_b AS DOUBLE) - 9.0)) AS hedges_g
       FROM dd ORDER BY type_a, type_b"""
  }

  /** Two-sample Poisson RATE test across event types — the
    * arrival-rate sibling of [[abTestWelch]]'s mean-value test: "do
    * errors arrive at a different rate than purchases", exposure-
    * normalized so types observed over different spans compare fairly.
    * Per type: exact BIGINT count n and exposure t = last-minus-first
    * event in exact integer MICROSECONDS; rate = n / hours. Pairwise
    * z = (r_a - r_b) / sqrt(n_a/h_a^2 + n_b/h_b^2) — the normal
    * approximation to the Poisson rate difference (Var(n/h) = n/h^2
    * under Poisson), valid at these counts; like every test here it
    * reports the STATISTIC, not a p-value (§7b: CDF lookups are
    * transcendental and belong to the caller). All doubles are one
    * identical expression tree over exact integers in both engines
    * (sqrt correctly rounded). Scale: one events scan into a
    * types-sized aggregate; the pair frame is types^2.
    */
  def poissonRateTest(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("t"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), (max(col("t")) - min(col("t"))).as("span"))
      .filter(col("span") > 0)
      .select(col("event_type"), col("n"),
        (col("span").cast("double") / lit(3600000000.0e0)).as("h"))
      .select(col("event_type"), col("n"), col("h"),
        (col("n").cast("double") / col("h")).as("rate"))
    g.as("p").join(g.as("q"), col("p.event_type") < col("q.event_type"))
      .select(col("p.event_type").as("type_a"),
        col("q.event_type").as("type_b"),
        col("p.n").as("n_a"), col("q.n").as("n_b"),
        col("p.rate").as("rate_a"), col("q.rate").as("rate_b"),
        ((col("p.rate") - col("q.rate"))
          / sqrt(col("p.n").cast("double") / (col("p.h") * col("p.h"))
            + col("q.n").cast("double") / (col("q.h") * col("q.h"))))
          .as("z"))
      .orderBy("type_a", "type_b")
  }

  val poissonRateTestSql: String =
    """WITH g0 AS (
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS span
         FROM events GROUP BY event_type),
       g AS (SELECT event_type, n,
                    CAST(span AS DOUBLE) / 3600000000.0 AS h,
                    CAST(n AS DOUBLE) / (CAST(span AS DOUBLE) / 3600000000.0)
                      AS rate
             FROM g0 WHERE span > 0)
       SELECT p.event_type AS type_a, q.event_type AS type_b,
              p.n AS n_a, q.n AS n_b, p.rate AS rate_a, q.rate AS rate_b,
              (p.rate - q.rate)
                / sqrt(CAST(p.n AS DOUBLE) / (p.h * p.h)
                       + CAST(q.n AS DOUBLE) / (q.h * q.h)) AS z
       FROM g p JOIN g q ON p.event_type < q.event_type
       ORDER BY type_a, type_b"""

  /** Benford's-law constants log10(1 + 1/d), d = 1..9, as shortest-
    * round-trip literals: the same decimal text parses to the same
    * double in Spark and DuckDB, so no engine ever computes a log. */
  val BenfordP: Seq[(Int, String)] = Seq(
    1 -> "0.3010299956639812", 2 -> "0.17609125905568124",
    3 -> "0.12493873660829992", 4 -> "0.09691001300805642",
    5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
    7 -> "0.05799194697768673", 8 -> "0.05115252244738129",
    9 -> "0.04575749056067514")

  /** Benford's-law first-digit audit of order prices — the classic
    * fraud/synthetic-data screen ("do the leading digits follow the
    * log distribution real-world amounts do"). The leading digit is
    * taken from the DECIMAL(14,4) TEXT form — both engines print
    * decimals as plain digit strings, so no double formatting (which
    * differs between Java and C) ever happens. Counts exact; share
    * and the deviation from the hard-coded Benford constants are
    * per-row double expressions. One scan, 9-row output.
    */
  def benfordDigits(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Nums._
    val counts = Tables.orders(s, dir)
      .select(substring(decp(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .localCheckpoint() // 9-row frame feeding the total AND the output
    val tot = counts.agg(sum(col("n")).as("nt"))
    // lit(text.toDouble): the JVM's correctly-rounded text parse; the
    // oracle does the same via CAST(VARCHAR AS DOUBLE), never letting
    // either engine type the literal as DECIMAL (two-rounding risk)
    val bp = BenfordP.foldLeft(lit(null).cast("double")) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p.toDouble)).otherwise(acc)
    }
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("nt").cast("double")).as("share"),
        bp.as("benford_p"))
      .withColumn("deviation", col("share") - col("benford_p"))
      .orderBy("digit")
  }

  val benfordDigitsSql: String = {
    import graft.functions.Nums._
    val cases = BenfordP
      .map { case (d, p) => s"WHEN digit = $d THEN CAST('$p' AS DOUBLE)" }
      .mkString(" ")
    s"""WITH counts AS (
         SELECT CAST(SUBSTR(CAST(${sqlDecp("o_totalprice")} AS VARCHAR), 1, 1)
                     AS INT) AS digit,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM orders GROUP BY 1),
       tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM counts)
       SELECT c.digit, c.n,
              CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE) AS share,
              CASE $cases END AS benford_p,
              CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE)
                - CASE $cases END AS deviation
       FROM counts c CROSS JOIN tot t
       ORDER BY digit"""
  }

  /** z for a 95% two-sided interval, as a shortest-round-trip text
    * literal (the Benford treatment: parsed, never computed). */
  val WilsonZ = "1.959963984540054"

  /** Wilson score 95% confidence interval on per-event-type conversion
    * ("of users who did anything, how many did THIS, and how sure are
    * we") — the uncertainty-aware twin of funnel_conversion. p is a
    * ratio of two exact user counts; the interval is a fixed scalar
    * double expression over (p, n, z) written identically in both
    * engines (one sqrt, correctly rounded). Wilson over Wald because
    * it never leaves [0,1] and behaves at small counts — the interval
    * a dashboard should actually print.
    */
  def conversionWilsonCi(s: SparkSession, dir: String): DataFrame = {
    // one corpus scan: both the per-type and the overall distinct-user
    // counts derive from the same checkpointed (type, user) frame
    val pairs = Tables.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint()
    val users = pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"))
    val tot = pairs.agg(countDistinct(col("user_id")).as("n"))
    val z = lit(WilsonZ.toDouble)
    val n = col("n").cast("double")
    val p = col("k").cast("double") / n
    val z2n = z * z / n
    val center = (p + z2n / 2.0) / (lit(1.0) + z2n)
    val half = (z / (lit(1.0) + z2n)) *
      sqrt(p * (lit(1.0) - p) / n + z * z / (lit(4.0) * n * n))
    users.crossJoin(broadcast(tot))
      .select(col("event_type"), col("k").as("n_users"), col("n").as("n_total"),
        p.as("p"), (center - half).as("ci_lo"), (center + half).as("ci_hi"))
      .orderBy("event_type")
  }

  val conversionWilsonCiSql: String = {
    val z = s"CAST('$WilsonZ' AS DOUBLE)"
    val n = "CAST(t.n AS DOUBLE)"
    val p = s"(CAST(u.k AS DOUBLE) / $n)"
    val z2n = s"($z * $z / $n)"
    val center = s"(($p + $z2n / 2.0) / (1.0 + $z2n))"
    val half = s"(($z / (1.0 + $z2n)) * SQRT($p * (1.0 - $p) / $n + $z * $z / (4.0 * $n * $n)))"
    s"""WITH u AS (SELECT event_type,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS k
              FROM events GROUP BY 1),
       t AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events)
       SELECT u.event_type, u.k AS n_users, t.n AS n_total,
              $p AS p, $center - $half AS ci_lo, $center + $half AS ci_hi
       FROM u CROSS JOIN t ORDER BY event_type"""
  }

  /** Return rate per part brand with a Wilson 95% interval — the
    * product-quality league table ("which brands come back", the
    * [[conversionWilsonCi]] machinery pointed at the returns funnel):
    * per brand, exact returned/total lineitem counts, the rate, and
    * the same z-literal one-sqrt Wilson tree (the interval is what
    * stops a 3-of-7 boutique brand from outranking a 3000-of-10000
    * volume brand on a dashboard sort). Scale: part dim broadcasts
    * into one lineitem scan; output is brand-cardinality. (round 6)
    */
  def returnRateBrandCi(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_returnflag"))
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"))
    val z = lit(WilsonZ.toDouble)
    val n = col("n_items").cast("double")
    val p = col("n_returned").cast("double") / n
    val z2n = z * z / n
    val center = (p + z2n / 2.0) / (lit(1.0) + z2n)
    val half = (z / (lit(1.0) + z2n)) *
      sqrt(p * (lit(1.0) - p) / n + z * z / (lit(4.0) * n * n))
    g.select(col("brand"), col("n_items"), col("n_returned"),
        p.as("return_rate"), (center - half).as("ci_lo"),
        (center + half).as("ci_hi"))
      .orderBy("brand")
  }

  val returnRateBrandCiSql: String = {
    val z = s"CAST('$WilsonZ' AS DOUBLE)"
    val n = "CAST(n_items AS DOUBLE)"
    val p = s"(CAST(n_returned AS DOUBLE) / $n)"
    val z2n = s"($z * $z / $n)"
    val center = s"(($p + $z2n / 2.0) / (1.0 + $z2n))"
    val half = s"(($z / (1.0 + $z2n)) * SQRT($p * (1.0 - $p) / $n + $z * $z / (4.0 * $n * $n)))"
    s"""WITH g AS (SELECT p.p_brand AS brand,
                CAST(COUNT(*) AS BIGINT) AS n_items,
                CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_returned
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              GROUP BY 1)
       SELECT brand, n_items, n_returned, $p AS return_rate,
              $center - $half AS ci_lo, $center + $half AS ci_hi
       FROM g ORDER BY brand"""
  }

  /** Day-of-week seasonality index of event volume: mean daily count
    * per ISO weekday over the corpus's mean daily count. The index is
    * the cross-multiplied EXACT ratio (dow_sum * total_days) /
    * (dow_days * total_sum) — one double division, no intermediate
    * float means. ISO weekday (1=Mon..7=Sun) because Spark's
    * dayofweek() and DuckDB's dayofweek() disagree on the week start;
    * weekday()+1 and isodow() agree. Calendar spine fills silent days
    * with explicit zeros so the means are over calendar days, not
    * observed days.
    */
  def seasonalityDow(s: SparkSession, dir: String): DataFrame = {
    val byDow = filledDays(s, dir)
      .groupBy((expr("weekday(day)") + 1).as("iso_dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
    val tot = byDow.agg(sum(col("n_days")).as("td"), sum(col("n_events")).as("te"))
    byDow.crossJoin(broadcast(tot))
      .select(col("iso_dow"), col("n_days"), col("n_events"),
        ((col("n_events") * col("td")).cast("double")
          / (col("n_days") * col("te")).cast("double")).as("seasonal_index"))
      .orderBy("iso_dow")
  }

  val seasonalityDowSql: String =
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY 1),
       spine AS (
         SELECT UNNEST(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY))::DATE AS day
         FROM daily),
       filled AS (
         SELECT s.day, COALESCE(d.n, 0) AS n
         FROM spine s LEFT JOIN daily d ON s.day = d.day),
       bydow AS (
         SELECT CAST(isodow(day) AS INT) AS iso_dow,
                CAST(COUNT(*) AS BIGINT) AS n_days,
                CAST(SUM(n) AS BIGINT) AS n_events
         FROM filled GROUP BY 1),
       tot AS (SELECT CAST(SUM(n_days) AS BIGINT) AS td,
                      CAST(SUM(n_events) AS BIGINT) AS te FROM bydow)
       SELECT b.iso_dow, b.n_days, b.n_events,
              CAST(b.n_events * t.td AS DOUBLE)
                / CAST(b.n_days * t.te AS DOUBLE) AS seasonal_index
       FROM bydow b CROSS JOIN tot t ORDER BY iso_dow"""

  /** The zero-filled daily event counts over the calendar spine: one
    * `(day, lo, n)` row per calendar day from `lo`, the first event's
    * day, to the last event's day, with `n` that day's event count (0
    * on a silent day). Calendar-bounded: the frame is |span| rows no
    * matter the event volume. Shared input of every single-series
    * daily operator. It takes no checkpoint: each caller projects
    * what it reads and keeps its own checkpoint choice. */
  private def filledDays(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = ev
      .agg(to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"),
        col("lo"))
    broadcast(spine).join(daily, Seq("day"), "left")
      .select(col("day"), col("lo"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** [[filledDays]] as `(di, n)` with the integer day index di = day −
    * lo, checkpointed — the input of the trend operators
    * ([[mannKendallTrend]], [[theilSenSlope]], [[runsTest]], ...). */
  private def dailySeries(s: SparkSession, dir: String): DataFrame =
    filledDays(s, dir)
      .select(datediff(col("day"), col("lo")).cast("long").as("di"),
        col("n"))
      .localCheckpoint()

  /** SQL twin of [[dailySeries]] as a WITH-clause body. */
  private val sqlDailySeries: String =
    """daily AS (SELECT CAST(ts AS DATE) AS day,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM events GROUP BY 1),
       bounds AS (SELECT CAST(MIN(ts) AS DATE) AS lo,
                         CAST(MAX(ts) AS DATE) AS hi FROM events),
       spine AS (SELECT unnest(generate_series(lo, hi,
                          INTERVAL 1 DAY))::DATE AS day, lo
                 FROM bounds),
       ser AS MATERIALIZED (
         SELECT CAST(date_diff('day', s.lo, s.day) AS BIGINT) AS di,
                CAST(COALESCE(d.n, 0) AS BIGINT) AS n
         FROM spine s LEFT JOIN daily d ON s.day = d.day)"""

  /** Mann-Kendall trend test of the daily event-count series — "is
    * volume monotonically drifting" asked nonparametrically (the
    * trend sibling of [[cusumChangepoint]]'s level-shift search and
    * the time-series application of [[kendallTau]]'s statistic):
    * S = Σ_{i<j} sign(n_j − n_i) over all day pairs, variance with
    * the tie correction [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, and the
    * continuity-corrected z. S and 18·Var are EXACT BIGINTs (day-pair
    * sign sums and closed-form tie products — calendar-bounded, no
    * overflow before ~10^6-day spans); z is one double tree over
    * exact casts, and like every test here it reports the statistic,
    * not a p-value. Scale: the pair join is |span|² rows — grows with
    * observation TIME, never event volume. (round 6)
    */
  def mannKendallTrend(s: SparkSession, dir: String): DataFrame =
    mannKendallFrom(dailySeries(s, dir))

  /** Core over any (di long, n long) series frame (spec hand-checks). */
  private[operators] def mannKendallFrom(ser: DataFrame): DataFrame = {
    val sStat = ser.as("a").join(ser.as("b"), col("b.di") > col("a.di"))
      .agg(sum(signum((col("b.n") - col("a.n")).cast("double"))
        .cast("long")).as("s_stat"))
    val nDays = ser.agg(count(lit(1)).as("nd"))
    val ties = ser.groupBy("n").agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tsum"))
    sStat.crossJoin(broadcast(nDays)).crossJoin(broadcast(ties))
      .select(col("nd").as("n_days"), col("s_stat"),
        (col("nd") * (col("nd") - 1) * (col("nd") * 2 + 5) - col("tsum"))
          .as("var18"))
      .select(col("n_days"), col("s_stat"), col("var18"),
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double")
            / sqrt(col("var18").cast("double") / lit(18.0e0)))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double")
              / sqrt(col("var18").cast("double") / lit(18.0e0)))
          .otherwise(lit(0.0e0)).as("z"))
  }

  val mannKendallTrendSql: String =
    s"""WITH $sqlDailySeries,
       st AS (SELECT CAST(SUM(CAST(sign(b.n - a.n) AS BIGINT)) AS BIGINT)
                       AS s_stat
              FROM ser a JOIN ser b ON b.di > a.di),
       nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM ser),
       ti AS (SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
              FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
                    FROM ser GROUP BY n)),
       v AS (SELECT nd.nd AS n_days, st.s_stat,
                    nd.nd * (nd.nd - 1) * (2 * nd.nd + 5) - ti.tsum AS var18
             FROM st CROSS JOIN nd CROSS JOIN ti)
       SELECT n_days, s_stat, var18,
              CASE WHEN s_stat > 0 THEN
                     CAST(s_stat - 1 AS DOUBLE)
                       / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                   WHEN s_stat < 0 THEN
                     CAST(s_stat + 1 AS DOUBLE)
                       / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                   ELSE 0.0 END AS z
       FROM v"""

  /** Theil-Sen slope estimator of the daily event-count trend — the
    * robust line fit next to [[graft.operators.Stats]]'s OLS
    * regression_slope (up to ~29% contaminated days cannot move it;
    * the estimator behind every outlier-tolerant trend monitor):
    * the MEDIAN of all pairwise slopes (n_j − n_i)/(j − i).
    *
    * Slopes are double divisions of exact integers (bit-identical both
    * engines); the global median comes from a TWO-PHASE rank with no
    * global window: slopes bucket by floor(slope · 2^20) (scaling by a
    * power of two is exact and monotone, so bucket order = value
    * order) and the rank is a running count over those buckets
    * ([[graft.functions.Keys.prefixSums]]). The lower median
    * (index ⌈m/2⌉, ties broken by the pair's day indexes) is
    * deterministic in both engines. Scale: |span|² pairs — grows with
    * observation time, never event volume. (round 6)
    */
  def theilSenSlope(s: SparkSession, dir: String): DataFrame =
    theilSenFrom(dailySeries(s, dir))

  /** Core over any (di long, n long) series frame (spec hand-checks). */
  private[operators] def theilSenFrom(ser: DataFrame): DataFrame = {
    val pairs = ser.as("a").join(ser.as("b"), col("b.di") > col("a.di"))
      .select(col("a.di").as("i"), col("b.di").as("j"),
        ((col("b.n") - col("a.n")).cast("double")
          / (col("b.di") - col("a.di")).cast("double")).as("slope"))
      .withColumn("bkt", floor(col("slope") * lit(1048576.0e0)).cast("long"))
      .localCheckpoint()
    val m = pairs.agg(count(lit(1)).as("m"))
    val nDays = ser.agg(count(lit(1)).as("n_days"))
    Keys.prefixSums(pairs.withColumn("rk", lit(1L)), Nil, col("bkt"),
        Seq(col("slope"), col("i"), col("j")), Seq("rk"))
      .crossJoin(broadcast(m))
      .filter(col("cum_rk") === expr("(m + 1) div 2"))
      .crossJoin(broadcast(nDays))
      .select(col("n_days"), col("m").as("n_pairs"),
        col("slope").as("ts_slope"))
  }

  val theilSenSlopeSql: String =
    s"""WITH $sqlDailySeries,
       pairs AS MATERIALIZED (
         SELECT a.di AS i, b.di AS j,
                CAST(b.n - a.n AS DOUBLE) / CAST(b.di - a.di AS DOUBLE)
                  AS slope
         FROM ser a JOIN ser b ON b.di > a.di),
       bp AS MATERIALIZED (
         SELECT i, j, slope,
                CAST(floor(slope * 1048576.0) AS BIGINT) AS bkt
         FROM pairs),
       cnt AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c
               FROM bp GROUP BY 1),
       offs AS (SELECT a.bkt,
                       CAST(COALESCE(SUM(b.c), 0) AS BIGINT) AS off
                FROM cnt a LEFT JOIN cnt b ON b.bkt < a.bkt
                GROUP BY a.bkt),
       m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM bp),
       nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM ser),
       rk AS (SELECT bp.slope, o.off +
                CAST(ROW_NUMBER() OVER (PARTITION BY bp.bkt
                  ORDER BY bp.slope, bp.i, bp.j) AS BIGINT) AS rnk
              FROM bp JOIN offs o ON bp.bkt = o.bkt)
       SELECT nd.n_days, m.m AS n_pairs, rk.slope AS ts_slope
       FROM rk CROSS JOIN m CROSS JOIN nd
       WHERE rk.rnk = (m.m + 1) // 2"""

  /** Autocorrelation depth (days). */
  val AcfMaxLag = 7

  /** Autocorrelation of the daily event-count series at lags 1..7 —
    * "does volume echo week over week" (the seasonality detector that
    * justifies [[seasonalityDow]]'s weekly frame). Zero-filled
    * calendar series; per lag, the overlap pairs come from ONE
    * date-shift equi-join (day+lag = day), then the corr_exact
    * discipline: integer sums (counts and their products in
    * DECIMAL to keep 100 TB daily volumes exact), Pearson r as the
    * identical one-sqrt double expression in both engines.
    */
  def acfDaily(s: SparkSession, dir: String): DataFrame = {
    val filled = filledDays(s, dir).select(col("day"), col("n"))
      .localCheckpoint()
    val lagged = filled.select(col("day").as("lday"), col("n").as("y"))
    val pairs = filled
      .select(col("day"), col("n").as("x"),
        explode(sequence(lit(1), lit(AcfMaxLag))).as("lag"))
      .withColumn("mday", expr("date_add(day, lag)"))
      .join(lagged, col("mday") === col("lday"))
      .select(col("lag"), col("x").cast("decimal(18,0)").as("x"),
        col("y").cast("decimal(18,0)").as("y"))
    pairs.groupBy("lag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
      .select(col("lag").cast("long").as("lag"),
        col("n").cast("long").as("n_days"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("r"))
      .orderBy("lag")
  }

  val acfDailySql: String =
    s"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY 1),
       spine AS (
         SELECT UNNEST(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY))::DATE AS day
         FROM daily),
       filled AS (
         SELECT s.day, COALESCE(d.n, 0) AS n
         FROM spine s LEFT JOIN daily d ON s.day = d.day),
       pairs AS (
         SELECT l.lag, CAST(a.n AS DECIMAL(18,0)) AS x,
                CAST(b.n AS DECIMAL(18,0)) AS y
         FROM filled a
           CROSS JOIN (SELECT UNNEST(generate_series(1, $AcfMaxLag)) AS lag) l
           JOIN filled b ON b.day = a.day + CAST(l.lag AS INT)),
       m AS (SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
                    ${graft.functions.Nums.sqlDsum("x")} AS sx,
                    ${graft.functions.Nums.sqlDsum("y")} AS sy,
                    ${graft.functions.Nums.sqlDsum("CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))")} AS sxy,
                    ${graft.functions.Nums.sqlDsum("CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))")} AS sxx,
                    ${graft.functions.Nums.sqlDsum("CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))")} AS syy
             FROM pairs GROUP BY 1)
       SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
              (n * sxy - sx * sy)
                / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r
       FROM m ORDER BY lag"""

  /** Partial autocorrelation (PACF) of the daily series at lags 1..7 —
    * the AR-order diagnostic next to [[acfDaily]] (ACF says "days
    * correlate a week apart"; PACF says whether that is a REAL lag-7
    * effect or echoes of shorter lags — the plot an ARIMA fitter reads
    * first). Durbin-Levinson recursion over the exact-input ACF
    * values: both engines' formula trees are GENERATED from the same
    * loop, so every intermediate φ_{k,j} is built with identical
    * operation order and the doubles stay bit-identical — the scalar
    * recursion runs on a ONE-ROW frame, so there is no distributed
    * float-order hazard at all. A degenerate unit-root denominator
    * emits NULL portably. Scale: inherits acf_daily's span-sized
    * machinery; the recursion itself is constant work. (round 6)
    */
  def pacfDaily(s: SparkSession, dir: String): DataFrame = {
    val acf = acfDaily(s, dir)
    val rCols = (1 to AcfMaxLag).map(l =>
      max(when(col("lag") === l, col("r"))).as(s"r$l"))
    var df = acf.agg(rCols.head, rCols.tail: _*)
    // phi_k_j columns via Durbin-Levinson; identical loop generates
    // the SQL twin below
    df = df.withColumn("p_1_1", col("r1"))
    for (k <- 2 to AcfMaxLag) {
      val num = (1 until k).foldLeft(col(s"r$k")) { (acc, j) =>
        acc - col(s"p_${k - 1}_$j") * col(s"r${k - j}")
      }
      val den = (1 until k).foldLeft(lit(1.0)) { (acc, j) =>
        acc - col(s"p_${k - 1}_$j") * col(s"r$j")
      }
      df = df.withColumn(s"p_${k}_$k",
        when(den =!= 0.0, num / den))
      for (j <- 1 until k)
        df = df.withColumn(s"p_${k}_$j",
          col(s"p_${k - 1}_$j") - col(s"p_${k}_$k") * col(s"p_${k - 1}_${k - j}"))
    }
    df.selectExpr("stack(" + AcfMaxLag + ", " +
      (1 to AcfMaxLag).map(k => s"${k}L, p_${k}_$k").mkString(", ") +
      ") as (lag, pacf)")
      .orderBy("lag")
  }

  val pacfDailySql: String = {
    val levels = new StringBuilder
    var prev = "lv1"
    levels ++= s"""lv1 AS (SELECT *, r1 AS p_1_1 FROM rr)"""
    for (k <- 2 to AcfMaxLag) {
      val num = (1 until k).foldLeft(s"r$k") { (acc, j) =>
        s"($acc - p_${k - 1}_$j * r${k - j})"
      }
      val den = (1 until k).foldLeft("1.0") { (acc, j) =>
        s"($acc - p_${k - 1}_$j * r$j)"
      }
      val kk = s"lvk$k AS (SELECT *, CASE WHEN $den <> 0 THEN $num / $den END" +
        s" AS p_${k}_$k FROM $prev)"
      val js = (1 until k).map(j =>
        s"p_${k - 1}_$j - p_${k}_$k * p_${k - 1}_${k - j} AS p_${k}_$j")
      levels ++= s",\n       $kk,\n       lv$k AS (SELECT *, " +
        js.mkString(", ") + s" FROM lvk$k)"
      prev = s"lv$k"
    }
    s"""WITH acf AS (SELECT lag, r FROM ($acfDailySql)),
       rr AS (SELECT ${(1 to AcfMaxLag).map(l =>
      s"MAX(CASE WHEN lag = $l THEN r END) AS r$l").mkString(", ")}
              FROM acf),
       $levels
       ${(1 to AcfMaxLag).map(k =>
      s"SELECT CAST($k AS BIGINT) AS lag, p_${k}_$k AS pacf FROM $prev")
      .mkString("\n       UNION ALL ")}
       ORDER BY lag"""
  }

  /** Gini coefficient of order revenue across customers, per nation —
    * the inequality measure next to [[hhiConcentration]]'s
    * concentration index (HHI asks "few big firms?", Gini asks "how
    * skewed is the whole curve"). Computed by the sorted-rank formula
    * G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)): ranks come from a
    * per-nation PARTITIONED window (deterministic (rev, custkey)
    * order; ties commute in the formula), both sums are exact DECIMAL
    * — one double division per nation. At 100 TB the nation partition
    * bounds every window; a single-market variant would use the
    * two-phase bucket-offset ranking instead (documented).
    */
  def giniRevenue(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Nums._
    val rev = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("c_custkey"))
      .agg(sum(decp(col("o_totalprice"))).cast("decimal(18,4)").as("rev"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("rev"), col("c_custkey"))
    rev.withColumn("i", row_number().over(w).cast("decimal(19,0)"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n"),
        sum(col("rev")).cast("double").as("sx"),
        sum(col("i") * col("rev")).cast("double").as("sxi"))
      .select(col("nation"), col("n").as("n_customers"), col("sx").as("total_rev"),
        ((lit(2.0) * col("sxi") - (col("n") + 1).cast("double") * col("sx"))
          / (col("n").cast("double") * col("sx"))).as("gini"))
      .orderBy("nation")
  }

  val giniRevenueSql: String = {
    import graft.functions.Nums._
    s"""WITH rev AS (
         SELECT n.n_name AS nation, o.o_custkey AS c,
                CAST(SUM(${sqlDecp("o.o_totalprice")}) AS DECIMAL(18,4)) AS rev
         FROM orders o
           JOIN customer cu ON o.o_custkey = cu.c_custkey
           JOIN nation n ON cu.c_nationkey = n.n_nationkey
         GROUP BY 1, 2),
       ranked AS (
         SELECT nation, rev,
                CAST(ROW_NUMBER() OVER (PARTITION BY nation
                  ORDER BY rev, c) AS DECIMAL(19,0)) AS i
         FROM rev),
       m AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
                    ${sqlDsum("rev")} AS sx,
                    ${sqlDsum("i * rev")} AS sxi
             FROM ranked GROUP BY 1)
       SELECT nation, n AS n_customers, sx AS total_rev,
              (2.0 * sxi - CAST(n + 1 AS DOUBLE) * sx)
                / (CAST(n AS DOUBLE) * sx) AS gini
       FROM m ORDER BY nation"""
  }

  /** CUSUM changepoint in the daily event-count series — "when did the
    * level shift" (the monitoring question after [[acfDaily]] says the
    * series is structured). The CUSUM score at day t is
    * S_t = C_t - (t/T)*C (cumulative minus the global trend line);
    * cross-multiplied to the EXACT integer D_t = T*C_t - t*C so the
    * argmax cannot be float-perturbed, with the earliest day as the
    * deterministic tiebreak. Cumulative counts are
    * [[graft.functions.Keys.prefixSums]] bucketed by year; pre/post
    * means surface as single double divisions.
    */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val filled = filledDays(s, dir)
      .select(col("day"), (datediff(col("day"), col("lo")) + 1).cast("long").as("t"),
        col("n"))
    val tot = filled.agg(max(col("t")).as("tt"), sum(col("n")).as("c"))
    Keys.prefixSums(filled, Nil, year(col("day")), Seq(col("day")), Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("day"), col("t"), col("tt"), col("c"), col("cum_n").as("ct"))
      .withColumn("d", col("tt") * col("ct") - col("t") * col("c"))
      .withColumn("d_abs", abs(col("d")))
      .orderBy(col("d_abs").desc, col("day"))
      .limit(1)
      // a last-day argmax (e.g. a one-day corpus) has no post segment:
      // NULL mean_post (the ANSI rule; ConstantCorpusSpec pins it)
      .select(col("day").as("changepoint_day"), col("t").as("t_index"),
        col("tt").as("n_days"), col("d_abs").as("d_num"),
        (col("ct").cast("double") / col("t").cast("double")).as("mean_pre"),
        when(col("tt") > col("t"),
          (col("c") - col("ct")).cast("double")
            / (col("tt") - col("t")).cast("double")).as("mean_post"))
  }

  val cusumChangepointSql: String =
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY 1),
       b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
       spine AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
                   AS DATE) AS day, lo FROM b),
       filled AS (
         SELECT s.day, CAST(datediff('day', s.lo, s.day) + 1 AS BIGINT) AS t,
                COALESCE(d.n, 0) AS n
         FROM spine s LEFT JOIN daily d ON s.day = d.day),
       cum AS (SELECT day, t, n,
                      CAST(SUM(n) OVER (ORDER BY day) AS BIGINT) AS ct
               FROM filled),
       tot AS (SELECT MAX(t) AS tt, CAST(SUM(n) AS BIGINT) AS c FROM filled)
       SELECT day AS changepoint_day, t AS t_index, tt AS n_days,
              ABS(tt * ct - t * c) AS d_num,
              CAST(ct AS DOUBLE) / CAST(t AS DOUBLE) AS mean_pre,
              CASE WHEN tt > t THEN
                CAST(c - ct AS DOUBLE) / CAST(tt - t AS DOUBLE) END
                AS mean_post
       FROM cum CROSS JOIN tot
       ORDER BY ABS(tt * ct - t * c) DESC, day LIMIT 1"""

  /** Average rank table for one variable: (v, r2) where r2 = TWICE the
    * tie-averaged rank of value v — doubled so ties of even size stay
    * integer: r2 = 2*(count below) + (count tied + 1). Input: (v, a)
    * with `a` the count at v; the running count is
    * [[graft.functions.Keys.prefixSums]] over [[RankBucket]] buckets.
    */
  def avgRank2(vals: DataFrame): DataFrame =
    Keys.prefixSums(vals, Nil, rankBucket, Seq(col("v")), Seq("a"))
      .select(col("v"), (lit(2L) * col("cum_a") - col("a") + 1).as("r2"))

  /** Spearman rank correlation between line-item quantity and extended
    * price — the robust (monotone-invariant, outlier-resistant)
    * sibling of `corr_exact`'s Pearson r. Fully exact: tie-averaged
    * ranks are DOUBLED to stay BIGINT (2r = 2*below + tied + 1), each
    * row joins its value's rank over a values-cardinality equi-join,
    * the moment sums accumulate in DECIMAL, and rho is the corr_exact
    * one-sqrt tree (the doubling cancels). Scale: two distinct-value
    * rank tables (two-phase prefix sums, no global window) + two
    * broadcast-able joins + one moment aggregate.
    */
  /** Kendall tau-b rank correlation, quantity vs line number —
    * completing the correlation family next to [[Stats.corrExact]]
    * (Pearson) and [[spearmanRho]]: tau counts PAIR ORDERINGS
    * (concordant minus discordant), the most outlier-robust of the
    * three and the one with a direct probabilistic reading
    * (P(concordant) − P(discordant)).
    *
    * Computed from the CONTINGENCY CELLS, never row pairs: both
    * variables are small integer domains, so (x, y) cell counts are a
    * |x-domain| × |y-domain| frame and nc/nd are cell-pair joins
    * (b.x > a.x matched with b.y ><' a.y) over cells² rows — corpus
    * rows never self-join (the n² trap this formulation exists to
    * avoid). Tie corrections n1 = Σ t(t−1)/2 per x-value, n2 per
    * y-value; every count and product is exact
    * DECIMAL(38,0)/HUGEINT (n0 ~ n²/2 passes 2^63 quickly), tau-b =
    * (nc − nd) / sqrt((n0−n1)(n0−n2)) as one double division over
    * exact casts. Per-returnflag groups ride the same cell frames.
    * (round 6)
    */
  def kendallTau(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("x"),
        col("l_linenumber").cast("long").as("y"))
      .groupBy("flag", "x", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds nc, nd and three marginal branches
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val nc = cells.as("a").join(cells.as("b"),
        col("a.flag") === col("b.flag") && col("b.x") > col("a.x") &&
          col("b.y") > col("a.y"))
      .groupBy(col("a.flag").as("flag"))
      .agg(sum(dec(col("a.c")) * col("b.c")).as("nc"))
    val nd = cells.as("a").join(cells.as("b"),
        col("a.flag") === col("b.flag") && col("b.x") > col("a.x") &&
          col("b.y") < col("a.y"))
      .groupBy(col("a.flag").as("flag"))
      .agg(sum(dec(col("a.c")) * col("b.c")).as("nd"))
    val n1 = cells.groupBy("flag", "x").agg(sum(col("c")).as("t"))
      .groupBy("flag")
      .agg((sum(dec(col("t")) * (col("t") - 1)) / 2).cast("decimal(38,0)")
        .as("n1"))
    val n2 = cells.groupBy("flag", "y").agg(sum(col("c")).as("u"))
      .groupBy("flag")
      .agg((sum(dec(col("u")) * (col("u") - 1)) / 2).cast("decimal(38,0)")
        .as("n2"))
    val n0 = cells.groupBy("flag").agg(sum(col("c")).as("n"))
      .select(col("flag"), col("n"),
        ((dec(col("n")) * (col("n") - 1)) / 2).cast("decimal(38,0)").as("n0"))
    n0.join(nc, Seq("flag")).join(nd, Seq("flag"))
      .join(n1, Seq("flag")).join(n2, Seq("flag"))
      .select(col("flag"), col("n"), col("nc").cast("long").as("nc"),
        col("nd").cast("long").as("nd"),
        ((col("nc") - col("nd")).cast("double")
          / sqrt(((col("n0") - col("n1")) * (col("n0") - col("n2")))
            .cast("double"))).as("tau_b"))
      .orderBy("flag")
  }

  val kendallTauSql: String =
    """WITH cells AS MATERIALIZED (
         SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x,
                CAST(l_linenumber AS BIGINT) AS y,
                CAST(COUNT(*) AS BIGINT) AS c
         FROM lineitem GROUP BY 1, 2, 3),
       nc AS (SELECT a.flag, SUM(CAST(a.c AS HUGEINT) * b.c) AS nc
              FROM cells a JOIN cells b
                ON a.flag = b.flag AND b.x > a.x AND b.y > a.y
              GROUP BY 1),
       nd AS (SELECT a.flag, SUM(CAST(a.c AS HUGEINT) * b.c) AS nd
              FROM cells a JOIN cells b
                ON a.flag = b.flag AND b.x > a.x AND b.y < a.y
              GROUP BY 1),
       t1 AS (SELECT flag, SUM(CAST(t AS HUGEINT) * (t - 1)) // 2 AS n1
              FROM (SELECT flag, x, CAST(SUM(c) AS BIGINT) AS t
                    FROM cells GROUP BY 1, 2) GROUP BY 1),
       t2 AS (SELECT flag, SUM(CAST(u AS HUGEINT) * (u - 1)) // 2 AS n2
              FROM (SELECT flag, y, CAST(SUM(c) AS BIGINT) AS u
                    FROM cells GROUP BY 1, 2) GROUP BY 1),
       tn AS (SELECT flag, CAST(SUM(c) AS BIGINT) AS n,
                     (CAST(SUM(c) AS HUGEINT)
                      * (CAST(SUM(c) AS HUGEINT) - 1)) // 2 AS n0
              FROM cells GROUP BY 1)
       SELECT tn.flag, tn.n, CAST(nc.nc AS BIGINT) AS nc,
              CAST(nd.nd AS BIGINT) AS nd,
              CAST(nc.nc - nd.nd AS DOUBLE)
                / sqrt(CAST((tn.n0 - t1.n1) * (tn.n0 - t2.n2) AS DOUBLE))
                AS tau_b
       FROM tn JOIN nc USING (flag) JOIN nd USING (flag)
               JOIN t1 USING (flag) JOIN t2 USING (flag)
       ORDER BY flag"""

  def spearmanRho(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      .localCheckpoint()
    def ranks(c: String) = avgRank2(
      li.groupBy(col(c).as("v")).agg(count(lit(1)).as("a")))
    val joined = li
      .join(ranks("x").select(col("v").as("x"), col("r2").as("rx")), Seq("x"))
      .join(ranks("y").select(col("v").as("y"), col("r2").as("ry")), Seq("y"))
      .select(col("rx").cast("decimal(19,0)").as("rx"),
        col("ry").cast("decimal(19,0)").as("ry"))
    joined.agg(count(lit(1)).cast("double").as("n"),
        sum(col("rx")).cast("double").as("sx"),
        sum(col("ry")).cast("double").as("sy"),
        sum(col("rx") * col("ry")).cast("double").as("sxy"),
        sum(col("rx") * col("rx")).cast("double").as("sxx"),
        sum(col("ry") * col("ry")).cast("double").as("syy"))
      // all-tied x or y collapses a rank spread: NULL rho (ANSI rule)
      .select(col("n").cast("long").as("n"),
        when((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy")) > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy")))).as("rho"))
  }

  val spearmanRhoSql: String = {
    import graft.functions.Nums._
    def rankCte(c: String, name: String): String =
      s"""$name AS (SELECT v, 2 * CAST(SUM(a) OVER (ORDER BY v) AS BIGINT)
                      - a + 1 AS r2
             FROM (SELECT $c AS v, CAST(COUNT(*) AS BIGINT) AS a
                   FROM lineitem GROUP BY 1))"""
    s"""WITH ${rankCte("l_quantity", "xr")},
       ${rankCte("l_extendedprice", "yr")},
       j AS (SELECT CAST(xr.r2 AS DECIMAL(19,0)) AS rx,
                    CAST(yr.r2 AS DECIMAL(19,0)) AS ry
             FROM lineitem l
               JOIN xr ON l.l_quantity = xr.v
               JOIN yr ON l.l_extendedprice = yr.v),
       m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                    ${sqlDsum("rx")} AS sx, ${sqlDsum("ry")} AS sy,
                    ${sqlDsum("rx * ry")} AS sxy,
                    ${sqlDsum("rx * rx")} AS sxx,
                    ${sqlDsum("ry * ry")} AS syy
             FROM j)
       SELECT CAST(n AS BIGINT) AS n,
              CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0 THEN
                (n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS rho
       FROM m"""
  }

  /** Bootstrap resample count. */
  val BootstrapB = 16

  /** Poisson(1) inverse-CDF thresholds on a uniform 16-bit HEX value
    * (floor(cdf(k) * 65536) rendered as 4 hex digits): a row's
    * resample weight is the number of thresholds at or below its
    * hash. Hex RANGE compares because no portable hex->int exists
    * (the dataset_kfold finding); weights cap at 8 (cdf there is
    * 1 - 1e-5). */
  val PoissonCdfHex: Seq[String] = Seq(
    "5e2d", "bc5a", "eb71", "fb23", "ff10", "ffd9", "fffa", "ffff")

  /** Deterministic Poisson bootstrap of mean order price (Kleiner et
    * al.'s scalable-bootstrap shape, hash-derandomized): each of B
    * resamples draws every row Poisson(1)-many times, with the draw
    * count derived from md5(orderkey : b) — no RNG, so re-runs,
    * retries, AND the DuckDB oracle reproduce the exact resamples
    * (a seeded-random bootstrap could never be hash-gated). One scan
    * fans out x B (bounded, B=16); per-resample means are exact
    * DECIMAL sums over integer weights with ONE final division. The
    * spread of the B means is the sampling-uncertainty estimate a
    * dashboard prints next to the point estimate.
    */
  def bootstrapMeans(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Nums._
    val cases = PoissonCdfHex.zipWithIndex.reverse.foldLeft(
      lit(PoissonCdfHex.size).cast("long")) { case (acc, (t, k)) =>
      when(col("h") <= lit(t), k.toLong).otherwise(acc)
    }
    Tables.orders(s, dir)
      .select(col("o_orderkey"), decp(col("o_totalprice")).as("x"),
        explode(sequence(lit(0), lit(BootstrapB - 1))).as("b"))
      .withColumn("h",
        substring(md5(concat_ws(":", col("o_orderkey"), col("b"))), 1, 4))
      .withColumn("w", cases)
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("x")).cast("double").as("sx"))
      .select(col("b").cast("long").as("b"), col("n_eff"),
        (col("sx") / col("n_eff").cast("double")).as("mean_price"))
      .orderBy("b")
  }

  /** Deterministic Poisson bootstrap of the MEDIAN order price — the
    * order-statistic completion of [[bootstrapMeans]] (a mean's
    * bootstrap is cheap sums; a median's needs per-resample ORDER
    * STATISTICS, which is where naive bootstraps funnel into one task
    * per resample). Same hash-derandomized Poisson(1) weights; each
    * resample's weighted UPPER median — the smallest x whose cumulative
    * weight clears (n_eff+1)/2, i.e. for even n_eff=2m the (m+1)-th
    * order statistic — is selected by cumulative weight
    * ([[graft.functions.Keys.prefixSums]] grouped by resample over
    * [[RankBucket]] buckets — B×buckets parallel windows, so no
    * resample ever sorts in a single task). The spread of the B
    * medians is the robust-location uncertainty estimate. (round 6)
    */
  def bootstrapMedians(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Nums._
    val cases = PoissonCdfHex.zipWithIndex.reverse.foldLeft(
      lit(PoissonCdfHex.size).cast("long")) { case (acc, (t, k)) =>
      when(col("h") <= lit(t), k.toLong).otherwise(acc)
    }
    val wrows = Tables.orders(s, dir)
      .select(col("o_orderkey"), decp(col("o_totalprice")).as("x"),
        explode(sequence(lit(0), lit(BootstrapB - 1))).as("b"))
      .withColumn("h",
        substring(md5(concat_ws(":", col("o_orderkey"), col("b"))), 1, 4))
      .withColumn("w", cases)
      .filter(col("w") > 0)
      .groupBy(col("b"), col("x")).agg(sum(col("w")).as("w"))
      .localCheckpoint() // feeds the rank chain AND the totals
    val tot = wrows.groupBy("b").agg(sum(col("w")).as("n_eff"))
    Keys.prefixSums(wrows, Seq("b"), expr(s"CAST(x AS BIGINT) div $RankBucket"),
        Seq(col("x")), Seq("w"))
      .join(broadcast(tot), Seq("b"))
      .groupBy("b")
      .agg(max(col("n_eff")).as("n_eff"),
        min(when(col("cum_w") * 2 >= col("n_eff") + 1, col("x")))
          .cast("double").as("median_price"))
      .select(col("b").cast("long").as("b"), col("n_eff"),
        col("median_price"))
      .orderBy("b")
  }

  val bootstrapMediansSql: String = {
    import graft.functions.Nums._
    val whens = PoissonCdfHex.zipWithIndex
      .map { case (t, k) => s"WHEN h <= '$t' THEN $k" }.mkString(" ")
    s"""WITH fan AS (
         SELECT o_orderkey, ${sqlDecp("o_totalprice")} AS x, b.b
         FROM orders,
              (SELECT UNNEST(generate_series(0, ${BootstrapB - 1})) AS b) b),
       hw AS (SELECT b, x, CAST(SUM(w) AS BIGINT) AS w
              FROM (SELECT b, x,
                      CASE $whens ELSE ${PoissonCdfHex.size} END AS w
                    FROM (SELECT b, x,
                            substr(md5(o_orderkey || ':' || b), 1, 4) AS h
                          FROM fan))
              WHERE w > 0 GROUP BY b, x),
       cum AS (SELECT b, x,
                      CAST(SUM(w) OVER (PARTITION BY b ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cw
               FROM hw),
       tot AS (SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff FROM hw GROUP BY b)
       SELECT CAST(c.b AS BIGINT) AS b, t.n_eff,
              CAST(MIN(CASE WHEN c.cw * 2 >= t.n_eff + 1 THEN c.x END)
                   AS DOUBLE) AS median_price
       FROM cum c JOIN tot t ON c.b = t.b
       GROUP BY c.b, t.n_eff ORDER BY b"""
  }

  val bootstrapMeansSql: String = {
    import graft.functions.Nums._
    val whens = PoissonCdfHex.zipWithIndex
      .map { case (t, k) => s"WHEN h <= '$t' THEN $k" }.mkString(" ")
    s"""WITH fan AS (
         SELECT o_orderkey, ${sqlDecp("o_totalprice")} AS x, b.b
         FROM orders,
              (SELECT UNNEST(generate_series(0, ${BootstrapB - 1})) AS b) b),
       hw AS (SELECT b, x,
                     CASE $whens ELSE ${PoissonCdfHex.size} END AS w
              FROM (SELECT b, x,
                      substr(md5(o_orderkey || ':' || b), 1, 4) AS h
                    FROM fan)),
       agg AS (SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
                      ${sqlDsum("w * x")} AS sx
               FROM hw GROUP BY b)
       SELECT CAST(b AS BIGINT) AS b, n_eff,
              sx / CAST(n_eff AS DOUBLE) AS mean_price
       FROM agg ORDER BY b"""
  }

  /** Odds ratio and risk ratio of the signup→purchase funnel — the 2x2
    * effect-size pair next to [[chi2Independence]]'s significance test
    * ("how MUCH more likely does a signup purchase"). User-level
    * exposure/outcome flags collapse to one 2x2 = (a,b,c,d) aggregate.
    * Both ratios use the Haldane-Anscombe +0.5 cell correction — a
    * dense corpus produces zero off-diagonal cells (every sf0.001 user
    * both signs up and purchases), where the raw estimator divides by
    * zero (ANSI mode throws) and the corrected one degrades
    * gracefully. 0.5 and the integer cells are exact doubles, so the
    * identical expression trees stay bit-equal across engines; the CI
    * would need log and belongs to the caller's stats library (the
    * §7b rule for p-values).
    */
  def oddsRatioFunnel(s: SparkSession, dir: String): DataFrame = {
    def h(c: Column): Column = c.cast("double") + 0.5
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("e"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("o"))
      .agg(sum(col("e") * col("o")).as("a"),
        sum(col("e") * (lit(1L) - col("o"))).as("b"),
        sum((lit(1L) - col("e")) * col("o")).as("c"),
        sum((lit(1L) - col("e")) * (lit(1L) - col("o"))).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        ((h(col("a")) * h(col("d"))) / (h(col("b")) * h(col("c"))))
          .as("odds_ratio"),
        ((h(col("a")) / (h(col("a")) + h(col("b"))))
          / (h(col("c")) / (h(col("c")) + h(col("d"))))).as("risk_ratio"))
  }

  val oddsRatioFunnelSql: String =
    """WITH u AS (
         SELECT user_id,
                MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS e,
                MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS o
         FROM events GROUP BY 1),
       t AS (SELECT CAST(SUM(e * o) AS BIGINT) AS a,
                    CAST(SUM(e * (1 - o)) AS BIGINT) AS b,
                    CAST(SUM((1 - e) * o) AS BIGINT) AS c,
                    CAST(SUM((1 - e) * (1 - o)) AS BIGINT) AS d
             FROM u)
       SELECT a, b, c, d,
              ((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE) + 0.5))
                / ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5))
                AS odds_ratio,
              ((CAST(a AS DOUBLE) + 0.5)
                 / ((CAST(a AS DOUBLE) + 0.5) + (CAST(b AS DOUBLE) + 0.5)))
                / ((CAST(c AS DOUBLE) + 0.5)
                 / ((CAST(c AS DOUBLE) + 0.5) + (CAST(d AS DOUBLE) + 0.5)))
                AS risk_ratio
       FROM t"""

  /** Cramér's V — the EFFECT-SIZE summary of [[chi2Independence]]'s
    * contingency table (chi2 grows with N even for a fixed association;
    * V = sqrt(chi2 / (N·min(r−1, c−1))) is the 0..1 strength a
    * dashboard can threshold). Shares [[chi2Scored]]'s exact
    * fixed-point cells — one extra aggregate over the |r|×|c| frame,
    * one sqrt over exact casts at the end. Bounds inherit chi2's
    * documented N ≤ 10^12. (round 6)
    */
  def cramersV(s: SparkSession, dir: String): DataFrame =
    cramersVFrom(Tables.orders(s, dir)
      .select(col("o_orderpriority").as("prio"),
        col("o_orderstatus").as("status")))

  /** Core over any two-categorical frame with columns (prio, status). */
  def cramersVFrom(pairsDf: DataFrame): DataFrame =
    chi2Scored(pairsDf)
      .groupBy("n", "nr", "nc")
      .agg(sum(col("c6")).as("chi6"))
      .select(col("n"), col("nr"), col("nc"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        (col("chi6").cast("double") / lit(Chi2Scale.toDouble)).as("chi2"),
        sqrt((col("chi6").cast("double") / lit(Chi2Scale.toDouble))
          / (col("n").cast("double")
            * least(col("nr") - 1, col("nc") - 1).cast("double")))
          .as("cramers_v"))

  val cramersVSql: String =
    s"""WITH $chi2CtesSql
       SELECT n, nr, nc, (nr - 1) * (nc - 1) AS dof,
              CAST(SUM(c6) AS DOUBLE) / ${Chi2Scale}.0 AS chi2,
              sqrt((CAST(SUM(c6) AS DOUBLE) / ${Chi2Scale}.0)
                   / (CAST(n AS DOUBLE)
                      * CAST(least(nr - 1, nc - 1) AS DOUBLE))) AS cramers_v
       FROM scored GROUP BY n, nr, nc"""

  /** Exact decimal FLOOR division for the k-sample rational terms
    * (Σ R_g²/n_g, Σ S_g²/n_g): Spark's `div` returns LONG (overflows
    * once terms pass 2^63, which Σ R_g²/n_g does around N ~ 3·10^6),
    * so the quotient is built decimal-native via the remainder
    * identity (a − a mod b) / b — the division is then exact-integral,
    * so Spark's decimal-division rounding never fires (quotients stay
    * under the (38,6) result type's 10^32 integral range up to
    * N ~ 10^10 rows per test). DuckDB's `//` on HUGEINT is the same
    * floor. Each floored term loses < 1 unit — deterministic in both
    * engines, ~1e-12 relative at bench scales, documented not tuned. */
  private def decFloorDiv(a: String, b: String): String =
    s"CAST((($a) - ($a) % ($b)) / ($b) AS DECIMAL(38,0))"

  /** Kruskal-Wallis H — the k-SAMPLE extension of [[mannWhitneyU]]
    * ("does price rank shift across ALL order priorities at once",
    * the nonparametric one-way ANOVA). Tie-averaged ranks are DOUBLED
    * to stay integral (r2 = 2·cum − t + 1 over distinct values, the
    * [[avgRank2]] identity), group rank sums are exact BIGINTs, and
    * Σ R_g²/n_g is unit-floored per group ([[decFloorDiv]]) so the H
    * total is one double tree over exact integers; the tie correction
    * divides by (N³−N) − Σ(t³−t), both exact DECIMAL(38,0). Scale:
    * distinct-value rank table ([[avgRank2]] — no global window), one
    * values-cardinality equi-join, one k-row aggregate. (round 6)
    */
  def kruskalWallis(s: SparkSession, dir: String): DataFrame =
    kruskalWallisFrom(Tables.orders(s, dir)
      .select(col("o_orderpriority").as("grp"),
        col("o_totalprice").as("v")))

  /** Core over any (grp, v) frame. */
  def kruskalWallisFrom(rows: DataFrame): DataFrame = {
    // Both checkpoints re-measured and KEPT in round 15: dropping them
    // (so each consumer recomputes the cheap aggregates in its own
    // stage) read 1.7-2.0 s vs 1.3-1.8 s with them at sf0.1 —
    // recompute multiplies through the chain (cells runs 3x), which
    // costs more than the two serial checkpoint barriers. The §7a
    // compact-post-agg rule holds here.
    val cells = rows.groupBy("grp", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds value totals AND the group rank join
    // r16 A/B (VERDICT r15 item 6, "overlap the two serial barriers"):
    // dropping ONLY this checkpoint (chain + tie sum each re-derive
    // totv from cells) read min 1.75 / med 2.04 s vs min 1.64 / med
    // 1.85 s with it, same host window — the two consumers' re-derived
    // 450k-row exchanges cost more than the one serial barrier saves.
    // Kept, matching the r15 both-checkpoints measurement.
    val totv = cells.groupBy("v").agg(sum(col("c")).as("tv"))
      .localCheckpoint() // feeds the rank chain AND the tie sum
    val g = cells.join(avgRank2(totv.withColumnRenamed("tv", "a")), Seq("v"))
      .groupBy("grp")
      .agg(sum(col("c")).as("n_g"), sum(col("c") * col("r2")).as("r2_sum"))
      .localCheckpoint() // feeds the fixed-point terms AND the totals
    val ties = totv.agg(sum(col("tv").cast("decimal(38,0)") * col("tv")
      * col("tv") - col("tv")).as("ties"))
    // quarter-units: R2² div n floors 4·(R_g²/n_g), four times finer
    // than dividing by 4n_g — and exact whenever n_g | R2_g²
    val tot = g.agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"),
      sum(expr(decFloorDiv(
        "cast(r2_sum as decimal(38,0)) * r2_sum", "n_g")))
        .cast("decimal(38,0)").as("hq4"))
    val h = lit(3.0) * col("hq4").cast("double") /
      (col("n").cast("double") * (col("n") + 1).cast("double")) -
      lit(3.0) * (col("n") + 1).cast("double")
    val nnn = (col("n").cast("decimal(38,0)") * col("n") * col("n")
      - col("n"))
    g.crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
      .select(col("grp"), col("n_g"), col("r2_sum"), col("n"),
        (col("k") - 1).as("dof"), h.as("h"),
        // every value tied zeroes the correction denominator: NULL
        // (the ANSI rule; ConstantCorpusSpec pins the class)
        when(nnn - col("ties") > 0,
          h * (nnn.cast("double") / (nnn - col("ties")).cast("double")))
          .as("h_tie"))
      .orderBy("grp")
  }

  val kruskalWallisSql: String =
    s"""WITH cells AS MATERIALIZED (
         SELECT o_orderpriority AS grp, o_totalprice AS v,
                CAST(COUNT(*) AS BIGINT) AS c
         FROM orders GROUP BY 1, 2),
       totv AS MATERIALIZED (
         SELECT v, CAST(SUM(c) AS BIGINT) AS tv FROM cells GROUP BY 1),
       ranks AS (SELECT v, 2 * CAST(SUM(tv) OVER (ORDER BY v) AS BIGINT)
                        - tv + 1 AS r2
                 FROM totv),
       g AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g,
                    CAST(SUM(c * r2) AS BIGINT) AS r2_sum
             FROM cells JOIN ranks USING (v) GROUP BY 1),
       ties AS (SELECT SUM(CAST(tv AS HUGEINT) * tv * tv - tv) AS ties
                FROM totv),
       tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                      CAST(COUNT(*) AS BIGINT) AS k,
                      SUM((CAST(r2_sum AS HUGEINT) * r2_sum) // n_g) AS hq4
               FROM g)
       SELECT g.grp, g.n_g, g.r2_sum, t.n, t.k - 1 AS dof,
              3.0 * CAST(CAST(t.hq4 AS VARCHAR) AS DOUBLE)
                / (CAST(t.n AS DOUBLE) * CAST(t.n + 1 AS DOUBLE))
                - 3.0 * CAST(t.n + 1 AS DOUBLE) AS h,
              (3.0 * CAST(CAST(t.hq4 AS VARCHAR) AS DOUBLE)
                / (CAST(t.n AS DOUBLE) * CAST(t.n + 1 AS DOUBLE))
                - 3.0 * CAST(t.n + 1 AS DOUBLE))
                * CASE WHEN CAST(t.n AS HUGEINT) * t.n * t.n - t.n
                            - ti.ties > 0 THEN
                    (CAST(CAST(CAST(t.n AS HUGEINT) * t.n * t.n - t.n
                               AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(CAST(t.n AS HUGEINT) * t.n * t.n - t.n
                                 - ti.ties AS VARCHAR) AS DOUBLE)) END AS h_tie
       FROM g CROSS JOIN tot t CROSS JOIN ties ti
       ORDER BY grp"""

  /** One-way F core shared by [[anovaOneway]] and
    * [[leveneBrownForsythe]]: input (grp, x) with x an exact integral
    * DECIMAL (cent-denominated); output one row (k, n, ssb, ssw) with
    * the between/within sums of squares in cent² as DECIMAL(38,0),
    * exact up to one [[decFloorDiv]] unit-floor per group. */
  private[operators] def fCore(xs: DataFrame): DataFrame = {
    val g = xs.groupBy("grp")
      .agg(count(lit(1)).as("n_g"),
        sum(col("x")).cast("decimal(38,0)").as("s_g"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("q_g"))
    g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g")).cast("decimal(38,0)").as("s"),
        sum(col("q_g")).cast("decimal(38,0)").as("q"),
        sum(expr(decFloorDiv("s_g * s_g", "n_g")))
          .cast("decimal(38,0)").as("sgt"))
      .select(col("k"), col("n"),
        (col("sgt") - expr(decFloorDiv("s * s", "n"))).cast("decimal(38,0)")
          .as("ssb"),
        (col("q") - col("sgt")).cast("decimal(38,0)").as("ssw"))
  }

  /** SQL twin of [[fCore]] as a CTE chain over `inner` (grp, x). */
  private def sqlFCore(inner: String): String =
    s"""g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g,
                    CAST(SUM(x) AS HUGEINT) AS s_g,
                    SUM(CAST(x AS HUGEINT) * x) AS q_g
             FROM ($inner) GROUP BY 1),
       f AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                    CAST(SUM(n_g) AS BIGINT) AS n,
                    SUM(CAST(s_g AS HUGEINT)) AS s,
                    SUM(CAST(q_g AS HUGEINT)) AS q,
                    SUM((s_g * s_g) // n_g) AS sgt
             FROM g),
       ss AS (SELECT k, n, sgt - (s * s) // n AS ssb, q - sgt AS ssw
              FROM f)"""

  /** Final projection shared by the two F tests (Spark side): F and
    * dollar²-denominated sums of squares from the exact cent² ints. */
  private[operators] def fSelect(core: DataFrame, stat: String): DataFrame =
    core.select(col("k"), col("n"),
      (col("ssb").cast("double") / lit(1.0e4)).as("ssb"),
      (col("ssw").cast("double") / lit(1.0e4)).as("ssw"),
      (col("k") - 1).as("df1"), (col("n") - col("k")).as("df2"),
      // zero within-variance (all groups constant) leaves F undefined:
      // NULL portably — ANSI Spark throws on the zero denominator
      when(col("ssw") > 0,
        (col("ssb").cast("double") / (col("k") - 1).cast("double"))
          / (col("ssw").cast("double") / (col("n") - col("k")).cast("double")))
        .as(stat))

  /** SQL twin of [[fSelect]]. */
  private def sqlFSelect(stat: String): String =
    s"""SELECT k, n,
              CAST(CAST(ssb AS VARCHAR) AS DOUBLE) / 1.0e4 AS ssb,
              CAST(CAST(ssw AS VARCHAR) AS DOUBLE) / 1.0e4 AS ssw,
              k - 1 AS df1, n - k AS df2,
              CASE WHEN ssw > 0 THEN
                (CAST(CAST(ssb AS VARCHAR) AS DOUBLE) / CAST(k - 1 AS DOUBLE))
                  / (CAST(CAST(ssw AS VARCHAR) AS DOUBLE)
                     / CAST(n - k AS DOUBLE)) END AS $stat
       FROM ss"""

  /** One-way ANOVA F — the parametric twin of [[kruskalWallis]] on the
    * same design (mean order price across priorities). Per-group count,
    * sum and sum-of-squares accumulate EXACTLY (prices as integral
    * cent DECIMALs; squares in DECIMAL(38,0)); the between/within
    * sums of squares are exact cent² integers (one [[decFloorDiv]]
    * unit-floor per group) so F is one double tree over exact
    * integers, and ssb/ssw surface in dollar². Scale:
    * one scan → k-row aggregate → 1-row aggregate; nothing shuffles
    * but group partials. (round 6)
    */
  def anovaOneway(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Nums._
    fSelect(fCore(Tables.orders(s, dir)
      .select(col("o_orderpriority").as("grp"),
        (decp(col("o_totalprice")) * 100).cast("decimal(16,0)").as("x"))),
      "f_stat")
  }

  val anovaOnewaySql: String = {
    import graft.functions.Nums._
    s"""WITH ${sqlFCore(
      s"""SELECT o_orderpriority AS grp,
              CAST(${sqlDecp("o_totalprice")} * 100 AS BIGINT) AS x
          FROM orders""")}
       ${sqlFSelect("f_stat")}"""
  }

  /** Brown-Forsythe (median-centered Levene) test — "is price SPREAD
    * equal across priorities" (the variance-homogeneity gate ANOVA's
    * validity rests on, made robust by centering on group MEDIANS, not
    * means). Each group's lower+upper middle values are selected by
    * row_number against a windowed count (partitioned per group — the
    * group_median discipline); the deviation |2x − (m_lo + m_hi)|
    * doubles every value so it stays integral through odd AND even
    * group sizes (F is scale-invariant, so the doubling cancels), and
    * the same exact fixed-point F core as [[anovaOneway]] scores the
    * deviations. (round 6)
    */
  def leveneBrownForsythe(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Nums._
    leveneFrom(Tables.orders(s, dir)
      .select(col("o_orderpriority").as("grp"),
        (decp(col("o_totalprice")) * 100).cast("decimal(16,0)").as("x"),
        col("o_orderkey").as("tie")))
  }

  /** Core over any (grp, x integral-decimal, tie) frame. */
  private[operators] def leveneFrom(raw: DataFrame): DataFrame = {
    val t = raw
      .localCheckpoint() // feeds the median windows AND the deviation join
    val w = Window.partitionBy(col("grp")).orderBy(col("x"), col("tie"))
    val wn = Window.partitionBy(col("grp"))
    val med2 = t
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wn))
      .filter(col("rn") === expr("(cnt + 1) div 2") ||
        col("rn") === expr("(cnt + 2) div 2"))
      .groupBy("grp")
      .agg((sum(col("x")) * when(count(lit(1)) === 1, 2).otherwise(1))
        .cast("decimal(19,0)").as("med2"))
    fSelect(fCore(t.join(broadcast(med2), Seq("grp"))
      .select(col("grp"),
        abs(lit(2) * col("x") - col("med2")).cast("decimal(19,0)").as("x"))),
      "w_stat")
  }

  val leveneBrownForsytheSql: String = {
    import graft.functions.Nums._
    s"""WITH t AS MATERIALIZED (
         SELECT o_orderpriority AS grp,
                CAST(${sqlDecp("o_totalprice")} * 100 AS BIGINT) AS x,
                o_orderkey
         FROM orders),
       r AS (SELECT grp, x,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS cnt
             FROM t),
       med AS (SELECT grp,
                      CAST(SUM(x) * (CASE WHEN COUNT(*) = 1 THEN 2 ELSE 1 END)
                           AS HUGEINT) AS med2
               FROM r
               WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
               GROUP BY grp),
       ${sqlFCore(
      """SELECT t.grp, CAST(abs(2 * CAST(t.x AS HUGEINT) - m.med2) AS HUGEINT) AS x
          FROM t JOIN med m ON t.grp = m.grp""")}
       ${sqlFSelect("w_stat")}"""
  }

  /** Wald-Wolfowitz runs test on the daily event-count series — "is
    * day-to-day volume RANDOM around its median, or does it streak"
    * (trending AND oscillating series both fail; the sequence-
    * randomness gate next to [[mannKendallTrend]]'s monotone drift).
    * The series median is selected exactly from the value-count
    * aggregate (cumulative counts via an aggregates-only self-join —
    * no global window); days tie-or-below the median count as 'below'
    * (documented convention). Runs are counted from ADJACENT-day pairs
    * (an equi-join on di+1, never a window), and z is one double tree
    * over the exact (runs, n_above, n_below) integers. Scale: the
    * day-pair join is |span|-sized — grows with observation time,
    * never event volume. (round 6)
    */
  def runsTest(s: SparkSession, dir: String): DataFrame =
    runsFrom(dailySeries(s, dir))

  /** Core over any (di long, n long) series frame (spec hand-checks). */
  private[graft] def runsFrom(ser: DataFrame): DataFrame = {
    val vc = ser.groupBy("n").agg(count(lit(1)).as("c"))
    val cum = vc.as("x").join(vc.as("y"), col("y.n") <= col("x.n"))
      .groupBy(col("x.n").as("v")).agg(sum(col("y.c")).as("cum"))
    val nd = ser.agg(count(lit(1)).as("nd"))
    val med = cum.crossJoin(broadcast(nd))
      .agg(min(when(col("cum") >= expr("(nd + 1) div 2"), col("v")))
        .as("med"))
    val flagged = ser.crossJoin(broadcast(med))
      .select(col("di"), (col("n") > col("med")).cast("long").as("ab"))
      .localCheckpoint() // feeds the side counts AND the adjacent join
    val counts = flagged.agg(count(lit(1)).as("days"),
      sum(col("ab")).as("n1"))
    val changes = flagged.as("a").join(flagged.as("b"),
        col("b.di") === col("a.di") + 1)
      .agg(sum(when(col("a.ab") =!= col("b.ab"), 1L).otherwise(0L)).as("ch"))
    counts.crossJoin(changes)
      .select(col("days").as("n_days"), col("n1").as("n_above"),
        (col("days") - col("n1")).as("n_below"),
        (col("ch") + 1).as("runs"),
        (lit(2L) * col("n1") * (col("days") - col("n1"))).as("p2"))
      // one-sided series (every day on one side of the median) has no
      // runs variance: NULL, not a zero-division (the ANSI rule)
      .select(col("n_days"), col("n_above"), col("n_below"), col("runs"),
        when(col("p2") > 0,
          ((col("runs").cast("double")
            - (lit(1.0) + col("p2").cast("double") / col("n_days").cast("double"))))
            / sqrt(col("p2").cast("double")
              * (col("p2") - col("n_days")).cast("double")
              / (col("n_days").cast("double") * col("n_days").cast("double")
                * (col("n_days") - 1).cast("double")))).as("z"))
  }

  val runsTestSql: String =
    s"""WITH $sqlDailySeries,
       vc AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS c FROM ser GROUP BY 1),
       cum AS (SELECT x.n AS v, CAST(SUM(y.c) AS BIGINT) AS cum
               FROM vc x JOIN vc y ON y.n <= x.n GROUP BY 1),
       nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM ser),
       med AS (SELECT MIN(CASE WHEN c.cum >= (d.nd + 1) // 2 THEN c.v END)
                        AS med
               FROM cum c CROSS JOIN nd d),
       fl AS MATERIALIZED (
         SELECT s.di, CASE WHEN s.n > m.med THEN 1 ELSE 0 END AS ab
         FROM ser s CROSS JOIN med m),
       cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS days,
                     CAST(SUM(ab) AS BIGINT) AS n1
              FROM fl),
       ch AS (SELECT CAST(SUM(CASE WHEN a.ab <> b.ab THEN 1 ELSE 0 END)
                          AS BIGINT) AS ch
              FROM fl a JOIN fl b ON b.di = a.di + 1),
       st AS (SELECT cn.days AS n_days, cn.n1 AS n_above,
                     cn.days - cn.n1 AS n_below, ch.ch + 1 AS runs,
                     2 * cn.n1 * (cn.days - cn.n1) AS p2
              FROM cn CROSS JOIN ch)
       SELECT n_days, n_above, n_below, runs,
              CASE WHEN p2 > 0 THEN
                (CAST(runs AS DOUBLE)
                 - (1.0 + CAST(p2 AS DOUBLE) / CAST(n_days AS DOUBLE)))
                  / sqrt(CAST(p2 AS DOUBLE) * CAST(p2 - n_days AS DOUBLE)
                         / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
                            * CAST(n_days - 1 AS DOUBLE))) END AS z
       FROM st"""

  /** Durbin-Watson statistic of the daily event-count series — the
    * classic first-order serial-correlation diagnostic (d ≈ 2 means
    * uncorrelated residuals, d → 0 positive streaking, d → 4
    * oscillation), completing the dependence panel next to
    * [[acfDaily]]'s per-lag correlations and [[runsTest]]'s sign
    * streaks. For the mean-only model the residual differences equal
    * the raw differences, so d = N·ΣΔ² / (N·Σn² − S²) is EXACT until
    * one double division: Δ-squares and moment sums accumulate in
    * DECIMAL(38,0)/HUGEINT (BIGINT squares saturate near daily
    * volumes of ~3e9), and a constant series zeroes the variance
    * denominator — NULL, the §7b rule. Scale: the adjacent-day join
    * and both aggregates are |span|-sized — grows with observation
    * time, never event volume. (round 7)
    */
  def durbinWatsonDaily(s: SparkSession, dir: String): DataFrame =
    dwFrom(dailySeries(s, dir))

  /** Core over any (di long, n long) series frame (spec hand-checks). */
  private[graft] def dwFrom(ser: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val mom = ser.agg(count(lit(1)).as("n_days"),
      sum(dec(col("n"))).cast("decimal(38,0)").as("sn"),
      sum(dec(col("n")) * col("n")).cast("decimal(38,0)").as("sn2"))
    val ds = ser.as("a").join(ser.as("b"), col("b.di") === col("a.di") + 1)
      .agg(coalesce(sum(dec(col("b.n") - col("a.n"))
          * (col("b.n") - col("a.n"))),
        lit(0).cast("decimal(38,0)")).cast("decimal(38,0)").as("sd2"))
    mom.crossJoin(ds)
      .select(col("n_days"),
        when(dec(col("n_days")) * col("sn2") - col("sn") * col("sn") > 0,
          (col("sd2") * col("n_days")).cast("double")
            / (dec(col("n_days")) * col("sn2") - col("sn") * col("sn"))
              .cast("double")).as("dw"))
  }

  val durbinWatsonDailySql: String =
    s"""WITH $sqlDailySeries,
       mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                      SUM(CAST(n AS HUGEINT)) AS sn,
                      SUM(CAST(n AS HUGEINT) * n) AS sn2
               FROM ser),
       ds AS (SELECT COALESCE(SUM(CAST(b.n - a.n AS HUGEINT) * (b.n - a.n)),
                              CAST(0 AS HUGEINT)) AS sd2
              FROM ser a JOIN ser b ON b.di = a.di + 1)
       SELECT m.n_days,
              CASE WHEN CAST(m.n_days AS HUGEINT) * m.sn2 - m.sn * m.sn > 0
                THEN CAST(CAST(d.sd2 * m.n_days AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(CAST(m.n_days AS HUGEINT) * m.sn2
                              - m.sn * m.sn AS VARCHAR) AS DOUBLE)
              END AS dw
       FROM mom m CROSS JOIN ds d"""

  /** Robust anomaly days via the MODIFIED z-score (Iglewicz-Hoaglin
    * 0.6745·|x−med|/MAD > 3.5) — the outlier gate that survives what
    * breaks [[graft.operators.Stats.anomalyZscore]]'s mean/σ version:
    * one huge day inflates σ and hides itself, while median and MAD
    * have a 50% breakdown point. The flag itself needs NO floats:
    * 0.6745·dev/mad > 3.5 ⇔ 1349·dev > 7000·mad on exact BIGINTs, so
    * a day cannot flip across engines by a rounding ulp; both medians
    * come from the value-count aggregate (aggregates-only cumulative
    * join — never a global sort), and the reported mod_z is display
    * only (NULL when MAD = 0, where the flag degenerates to "any
    * deviation", the documented Iglewicz-Hoaglin edge). Every day is
    * emitted with its flag (the [[graft.operators.Stats.anomalyZscore]]
    * output convention — a quiet series reports itself quiet, not
    * empty). Scale: |span|-sized series, value-cardinality median
    * frames. (round 7)
    */
  def anomalyMadDays(s: SparkSession, dir: String): DataFrame =
    madFrom(dailySeries(s, dir))

  /** Core over any (di long, n long) series frame (spec hand-checks). */
  private[graft] def madFrom(ser: DataFrame): DataFrame = {
    def med(df: DataFrame, c: String): DataFrame = {
      val vc = df.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      val cum = vc.as("x").join(vc.as("y"), col("y.v") <= col("x.v"))
        .groupBy(col("x.v").as("v")).agg(sum(col("y.cnt")).as("cum"))
      val nd = df.agg(count(lit(1)).as("nd"))
      cum.crossJoin(broadcast(nd))
        .agg(min(when(col("cum") >= expr("(nd + 1) div 2"), col("v")))
          .as("m"))
    }
    val dev = ser.crossJoin(broadcast(med(ser, "n")))
      .select(col("di"), col("n"), col("m").as("med"),
        abs(col("n") - col("m")).as("dev"))
      .localCheckpoint() // feeds the MAD median AND the flag column
    dev.crossJoin(broadcast(med(dev, "dev").select(col("m").as("mad"))))
      .select(col("di"), col("n"), col("med"), col("dev"), col("mad"),
        (col("dev") * 1349 > col("mad") * 7000).as("is_anomaly"),
        when(col("mad") > 0, lit(0.6745) * col("dev").cast("double")
          / col("mad").cast("double")).as("mod_z"))
      .orderBy("di")
  }

  val anomalyMadDaysSql: String = {
    def med(rel: String, c: String, out: String) =
      s"""${out}_vc AS (SELECT $c AS v, CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM $rel GROUP BY 1),
       ${out}_cum AS (SELECT x.v, CAST(SUM(y.cnt) AS BIGINT) AS cum
                      FROM ${out}_vc x JOIN ${out}_vc y ON y.v <= x.v
                      GROUP BY 1),
       ${out}_nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM $rel),
       $out AS (SELECT MIN(CASE WHEN c.cum >= (d.nd + 1) // 2
                                THEN c.v END) AS m
                FROM ${out}_cum c CROSS JOIN ${out}_nd d)"""
    s"""WITH $sqlDailySeries,
       ${med("ser", "n", "m1")},
       dev AS MATERIALIZED (
         SELECT s.di, s.n, m.m AS med, abs(s.n - m.m) AS dev
         FROM ser s CROSS JOIN m1 m),
       ${med("dev", "dev", "m2")}
       SELECT d.di, d.n, d.med, d.dev, m.m AS mad,
              (d.dev * 1349 > m.m * 7000) AS is_anomaly,
              CASE WHEN m.m > 0 THEN
                0.6745 * CAST(d.dev AS DOUBLE) / CAST(m.m AS DOUBLE)
              END AS mod_z
       FROM dev d CROSS JOIN m2 m
       ORDER BY d.di"""
  }

  /** Cochran's Q over the users × event-types presence matrix — "do
    * the k event types reach DIFFERENT fractions of the user base",
    * the k-sample test for matched BINARY outcomes (the binary sibling
    * of [[kruskalWallis]]' rank test; McNemar's k=2 generalization).
    * With x_{u,t} = 1 iff user u ever fired type t:
    * Q = (k−1)·(k·ΣC_t² − S²) / (k·S − ΣR_u²) — column sums C_t, row
    * sums R_u, total S, ALL exact BIGINT/DECIMAL(38,0) (the squares
    * pass BIGINT near 3e9 users), one double division. All-zero or
    * all-one user rows cancel algebraically, so only observed
    * (user, type) pairs are ever materialized; a degenerate matrix
    * (k = 1, or every user firing every type) zeroes the denominator
    * — NULL (§7b; ConstantCorpusSpec's one-type corpus hits k = 1).
    * Scale: one distinct-agg over events; row sums are
    * user-cardinality aggregates, everything after is k-row. (round 7)
    */
  def cochranQ(s: SparkSession, dir: String): DataFrame =
    cochranFrom(Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint()) // compact presence frame feeds three branches

  /** Core over any distinct (user_id, event_type) presence frame. */
  private[graft] def cochranFrom(pres: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val colS = pres.groupBy("event_type").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("k"),
        sum(col("c")).as("s"),
        sum(dec(col("c")) * col("c")).cast("decimal(38,0)").as("sc2"))
    val rowS = pres.groupBy("user_id").agg(count(lit(1)).as("r"))
      .agg(count(lit(1)).as("n_users"),
        sum(dec(col("r")) * col("r")).cast("decimal(38,0)").as("sr2"))
    colS.crossJoin(rowS)
      .select(col("k"), col("n_users"), col("s").as("n_present"),
        when(dec(col("k")) * col("s") - col("sr2") > 0,
          ((col("k") - 1) * (dec(col("k")) * col("sc2")
            - dec(col("s")) * col("s"))).cast("double")
            / (dec(col("k")) * col("s") - col("sr2")).cast("double"))
          .as("q_stat"))
  }

  val cochranQSql: String =
    """WITH pres AS MATERIALIZED (
         SELECT DISTINCT user_id, event_type FROM events),
       cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                     CAST(SUM(c) AS BIGINT) AS s,
                     SUM(CAST(c AS HUGEINT) * c) AS sc2
              FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
                    FROM pres GROUP BY 1)),
       rs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                     SUM(CAST(r AS HUGEINT) * r) AS sr2
              FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS r
                    FROM pres GROUP BY 1))
       SELECT c.k, r.n_users, c.s AS n_present,
              CASE WHEN CAST(c.k AS HUGEINT) * c.s - r.sr2 > 0 THEN
                CAST(CAST((c.k - 1) * (CAST(c.k AS HUGEINT) * c.sc2
                          - CAST(c.s AS HUGEINT) * c.s) AS VARCHAR)
                     AS DOUBLE)
                  / CAST(CAST(CAST(c.k AS HUGEINT) * c.s - r.sr2
                              AS VARCHAR) AS DOUBLE)
              END AS q_stat
       FROM cs c CROSS JOIN rs r"""

  /** Global Lorenz curve in deciles — the 10-point inequality TABLE
    * behind [[giniRevenue]]'s scalar ("the bottom 60% of customers
    * hold 31% of revenue"): customers rank by exact DECIMAL revenue
    * ascending, a running count under (q, ck) from
    * [[graft.functions.Keys.prefixSums]] over revenue-quanta buckets (a
    * GLOBAL curve, so the per-nation window gini rides is unavailable
    * and a global window is banned), each customer's first covering decile
    * comes from the exact integer cut r ≤ (d·N) div 10, and decile
    * cumulative shares are suffix sums over a ≤10-row frame. Exact
    * decimal revenue mass until one division per decile; decile 10
    * closes at exactly 1.0. Scale: customer-cardinality aggregates,
    * buckets² offset join, 10-row output. (round 7)
    */
  def lorenzDeciles(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Nums._
    val rev = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(decp(col("o_totalprice"))).cast("decimal(18,4)").as("rev"))
      .select(col("o_custkey").as("ck"), col("rev"),
        (col("rev") * 10000).cast("long").as("q"))
      .localCheckpoint() // customer-sized; feeds rank chain AND totals
    val tot = rev.agg(count(lit(1)).as("nc"),
      sum(col("rev")).cast("decimal(38,4)").as("trev"))
    val dmin = (1 to 10).foldRight(lit(10L): org.apache.spark.sql.Column) {
      (d, acc) =>
        when(expr(s"($d * nc) div 10") >= col("r"), d.toLong).otherwise(acc)
    }
    val perD = Keys.prefixSums(rev.withColumn("r", lit(1L)), Nil,
        expr(s"q div $RankBucket"), Seq(col("q"), col("ck")), Seq("r"))
      .select(col("rev"), col("cum_r").as("r"))
      .crossJoin(broadcast(tot))
      .select(col("rev"), dmin.as("d"))
      .groupBy("d")
      .agg(sum(col("rev")).cast("decimal(38,4)").as("srev"))
    tot.select(explode(sequence(lit(1L), lit(10L))).as("decile"),
        col("nc"), col("trev"))
      .join(perD, col("d") <= col("decile"), "left")
      .groupBy("decile", "nc", "trev")
      .agg(coalesce(sum(col("srev")), lit(0).cast("decimal(38,4)"))
        .cast("decimal(38,4)").as("cum"))
      .select(col("decile"), expr("(decile * nc) div 10").as("n_cust_cum"),
        (col("cum").cast("double") / col("trev").cast("double"))
          .as("cum_share"))
      .orderBy("decile")
  }

  val lorenzDecilesSql: String = {
    import graft.functions.Nums._
    s"""WITH rev AS (
         SELECT o_custkey AS ck,
                CAST(SUM(${sqlDecp("o_totalprice")}) AS DECIMAL(18,4)) AS rev
         FROM orders GROUP BY 1),
       ranked AS (SELECT rev,
                         CAST(ROW_NUMBER() OVER (ORDER BY rev, ck)
                              AS BIGINT) AS r
                  FROM rev),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
                      CAST(SUM(rev) AS DECIMAL(38,4)) AS trev
               FROM rev),
       fan AS (SELECT d.decile, t.nc, t.trev,
                      CAST(SUM(CASE WHEN rk.r <= (d.decile * t.nc) // 10
                                    THEN rk.rev END) AS DECIMAL(38,4))
                        AS cum
               FROM ranked rk CROSS JOIN tot t
                 CROSS JOIN (SELECT unnest(generate_series(1, 10))
                               AS decile) d
               GROUP BY 1, 2, 3)
       SELECT CAST(decile AS BIGINT) AS decile,
              (decile * nc) // 10 AS n_cust_cum,
              CAST(CAST(COALESCE(cum, 0) AS VARCHAR) AS DOUBLE)
                / CAST(CAST(trev AS VARCHAR) AS DOUBLE) AS cum_share
       FROM fan ORDER BY decile"""
  }

  /** McNemar's paired test on the purchase flag across the two halves
    * of the observation span — "did conversion CHANGE for the same
    * users" (the matched-pairs k=2 slice of [[cochranQ]], with the
    * continuity correction the general test lacks): per user, x =
    * purchased in the first half, y = in the second (half boundary =
    * exact integer midpoint of the event-time span); only the
    * discordant counts b = (1,0), c = (0,1) matter, and
    * χ²_cc = (max(|b−c|−1, 0))² / (b+c) is exact until one division —
    * NULL when no user changed (b+c = 0; ConstantCorpusSpec's
    * one-instant corpus). Scale: one scan, user-cardinality flag
    * aggregate, 1-row output. (round 7)
    */
  def mcnemarTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    val mid = ev.agg(expr("(min(t) + max(t)) div 2").as("mid"))
    val flags = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
          col("t") <= col("mid"), 1L).otherwise(0L)).as("x"),
        max(when(col("event_type") === "purchase" &&
          col("t") > col("mid"), 1L).otherwise(0L)).as("y"))
    flags.agg(count(lit(1)).as("n_users"),
        sum(when(col("x") === 1 && col("y") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("x") === 0 && col("y") === 1, 1L).otherwise(0L))
          .as("c"))
      .select(col("n_users"), col("b"), col("c"),
        when(col("b") + col("c") > 0,
          (greatest(abs(col("b") - col("c")) - 1, lit(0L))
            * greatest(abs(col("b") - col("c")) - 1, lit(0L)))
            .cast("double") / (col("b") + col("c")).cast("double"))
          .as("chi2_cc"))
  }

  val mcnemarTestSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t
                  FROM events),
       mid AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM e),
       flags AS (SELECT user_id,
                   MAX(CASE WHEN event_type = 'purchase' AND t <= m.mid
                            THEN 1 ELSE 0 END) AS x,
                   MAX(CASE WHEN event_type = 'purchase' AND t > m.mid
                            THEN 1 ELSE 0 END) AS y
                 FROM e CROSS JOIN mid m GROUP BY user_id),
       agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                      CAST(SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                           AS BIGINT) AS b,
                      CAST(SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
                           AS BIGINT) AS c
               FROM flags)
       SELECT n_users, b, c,
              CASE WHEN b + c > 0 THEN
                CAST(greatest(abs(b - c) - 1, 0)
                     * greatest(abs(b - c) - 1, 0) AS DOUBLE)
                  / CAST(b + c AS DOUBLE) END AS chi2_cc
       FROM agg"""

  /** Pareto coverage of customer revenue per nation — "how many
    * customers do 80% of the business" (the whale-curve operator next
    * to [[giniRevenue]]'s whole-curve skew and [[hhiConcentration]]'s
    * squared-share index; account teams staff by exactly this number).
    * Customers rank by exact DECIMAL revenue per nation (per-nation
    * PARTITIONED windows, orderkey-free deterministic tiebreak on
    * custkey); the 80% threshold is the cross-multiplied EXACT compare
    * 5·cum ≥ 4·total — no float crossing can mis-place the cut — and
    * pareto_k is the min rank passing it. Scale: one (nation,
    * customer) aggregate, two partitioned window passes, one k-row
    * output. (round 6)
    */
  def paretoCoverage(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Nums._
    val rev = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("c_custkey"))
      .agg(sum(decp(col("o_totalprice"))).as("rev"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("rev").desc, col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col("nation"))
    rev
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("nation"))
          .orderBy(col("rev").desc, col("c_custkey"))))
      .withColumn("cum", sum(col("rev")).over(w))
      .withColumn("tot", sum(col("rev")).over(wn))
      .withColumn("nc", count(lit(1)).over(wn))
      .filter(col("cum") * 5 >= col("tot") * 4)
      .groupBy("nation")
      .agg(max(col("nc")).as("n_customers"),
        min(col("rn")).cast("long").as("pareto_k"))
      .select(col("nation"), col("n_customers"), col("pareto_k"),
        (col("pareto_k").cast("double") / col("n_customers").cast("double"))
          .as("pareto_share"))
      .orderBy("nation")
  }

  val paretoCoverageSql: String = {
    import graft.functions.Nums._
    s"""WITH rev AS (
         SELECT n.n_name AS nation, o.o_custkey AS c_custkey,
                SUM(${sqlDecp("o.o_totalprice")}) AS rev
         FROM orders o
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1, 2),
       r AS (SELECT nation, c_custkey, rev,
               ROW_NUMBER() OVER (PARTITION BY nation
                                  ORDER BY rev DESC, c_custkey) AS rn,
               SUM(CAST(rev AS DECIMAL(26,4))) OVER (
                              PARTITION BY nation
                              ORDER BY rev DESC, c_custkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum,
               SUM(CAST(rev AS DECIMAL(26,4))) OVER (
                              PARTITION BY nation) AS tot,
               COUNT(*) OVER (PARTITION BY nation) AS nc
             FROM rev)
       SELECT nation, CAST(MAX(nc) AS BIGINT) AS n_customers,
              CAST(MIN(rn) AS BIGINT) AS pareto_k,
              CAST(MIN(rn) AS DOUBLE) / CAST(MAX(nc) AS DOUBLE)
                AS pareto_share
       FROM r WHERE cum * 5 >= tot * 4
       GROUP BY nation ORDER BY nation"""
  }

  /** Seasonality STRENGTH of the weekly cycle — "how much of the
    * daily-volume variance does day-of-week explain, after removing
    * trend" (the variance-decomposition summary behind
    * [[seasonalityDow]]'s per-day indices; STL's seasonal-strength
    * statistic made exact). Each full-window day is detrended by the
    * CENTERED 7-day total: det7 = 7·n(d) − Σ_{|k|≤3} n(d+k), an exact
    * integer (no division, so no float trend estimate); the
    * detrended values then one-way-ANOVA by phase (di mod 7) through
    * the same exact [[fCore]] — strength = SSB/(SSB+SSW), F alongside.
    * The windowed total is an explode(−3..3) EQUI-join against the
    * broadcast calendar frame (the xcorr shape), never a window.
    * Scale: |span|×7 fan-out over the checkpointed daily series —
    * grows with observation time, never event volume. (round 6)
    */
  def seasonalityStrengthDow(s: SparkSession, dir: String): DataFrame =
    seasonalityStrengthFrom(dailySeries(s, dir))

  /** Core over any (di long, n long) series frame (spec hand-checks). */
  private[operators] def seasonalityStrengthFrom(ser: DataFrame): DataFrame = {
    val sum7 = ser
      .select(col("di"), explode(sequence(lit(-3), lit(3))).as("off"))
      .withColumn("dj", col("di") + col("off"))
      .join(broadcast(ser.select(col("di").as("dj"), col("n").as("nb"))),
        Seq("dj"))
      .groupBy("di").agg(count(lit(1)).as("c7"), sum(col("nb")).as("s7"))
      .filter(col("c7") === 7)
    val det = ser.join(sum7, Seq("di"))
      .select((col("di") % 7).as("grp"),
        (lit(7) * col("n") - col("s7")).cast("decimal(38,0)").as("x"))
    // a perfect weekly fit zeroes SSW (F undefined — NULL, not a
    // double Infinity: ANSI Spark throws on the zero denominator and
    // DuckDB would emit Inf, so NULL is the only portable verdict);
    // likewise a flat series zeroes SSB+SSW
    fCore(det).select(col("k"), col("n"),
      col("ssb").cast("double").as("ssb"),
      col("ssw").cast("double").as("ssw"),
      (col("k") - 1).as("df1"), (col("n") - col("k")).as("df2"),
      when(col("ssw") > 0,
        (col("ssb").cast("double") / (col("k") - 1).cast("double"))
          / (col("ssw").cast("double") / (col("n") - col("k")).cast("double")))
        .as("f_stat"),
      when(col("ssb") + col("ssw") > 0,
        col("ssb").cast("double")
          / (col("ssb").cast("double") + col("ssw").cast("double")))
        .as("strength"))
  }

  val seasonalityStrengthDowSql: String =
    s"""WITH $sqlDailySeries,
       s7 AS (SELECT a.di, CAST(COUNT(*) AS BIGINT) AS c7,
                     CAST(SUM(b.n) AS BIGINT) AS s7
              FROM ser a JOIN ser b ON b.di BETWEEN a.di - 3 AND a.di + 3
              GROUP BY 1),
       ${sqlFCore(
      """SELECT s.di % 7 AS grp, CAST(7 * s.n - x.s7 AS HUGEINT) AS x
          FROM ser s JOIN s7 x ON s.di = x.di WHERE x.c7 = 7""")}
       SELECT k, n,
              CAST(CAST(ssb AS VARCHAR) AS DOUBLE) AS ssb,
              CAST(CAST(ssw AS VARCHAR) AS DOUBLE) AS ssw,
              k - 1 AS df1, n - k AS df2,
              CASE WHEN ssw > 0 THEN
                (CAST(CAST(ssb AS VARCHAR) AS DOUBLE) / CAST(k - 1 AS DOUBLE))
                  / (CAST(CAST(ssw AS VARCHAR) AS DOUBLE)
                     / CAST(n - k AS DOUBLE)) END AS f_stat,
              CASE WHEN ssb + ssw > 0 THEN
                CAST(CAST(ssb AS VARCHAR) AS DOUBLE)
                  / (CAST(CAST(ssb AS VARCHAR) AS DOUBLE)
                     + CAST(CAST(ssw AS VARCHAR) AS DOUBLE)) END AS strength
       FROM ss"""

  /** Lags scanned by [[xcorrDailyLags]] (0..7: same-day through one
    * week of lead time). */
  val XcorrMaxLag = 7

  /** Lagged cross-correlation between the daily click series and the
    * daily purchase series — "how many days does a click lead a
    * purchase" (the lead-lag diagnostic next to [[acfDaily]]'s
    * self-correlation): Pearson r between x(day) and y(day+lag) for
    * lag 0..7 over the zero-filled calendar spine. All five moment
    * sums are exact BIGINTs per lag (daily counts are small integers);
    * r is the corr_exact one-sqrt tree over exact casts. Scale: the
    * lag fan-out is |span|×8 rows joined back to the |span|-sized
    * checkpointed series on an equi-key — grows with observation
    * time, never event volume. (round 6)
    */
  def xcorrDailyLags(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val spine = ev
      .agg(to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"), col("lo"))
    val xy = broadcast(spine)
      .join(daily.filter(col("event_type") === "click")
        .select(col("day"), col("c").as("x")), Seq("day"), "left")
      .join(daily.filter(col("event_type") === "purchase")
        .select(col("day"), col("c").as("y")), Seq("day"), "left")
      .select(datediff(col("day"), col("lo")).cast("long").as("di"),
        coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
      .localCheckpoint() // feeds the lag fan-out AND the lagged side
    xorrFrom(xy)
  }

  /** Core over any (di, x, y) series frame (spec hand-checks). Moment
    * sums ride DECIMAL(38,0)/HUGEINT — BIGINT squares of daily counts
    * saturate around 10^9 events/day. */
  private[operators] def xorrFrom(xy: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    xy.select(col("di"), col("x"),
        explode(sequence(lit(0), lit(XcorrMaxLag))).as("lag"))
      .withColumn("dj", col("di") + col("lag"))
      // the lagged side is calendar-sized at ANY corpus scale: broadcast
      // beats the SortMergeJoin Spark picks off the unsized fan-out
      .join(broadcast(xy.select(col("di").as("dj"), col("y"))), Seq("dj"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x")) * col("x")).cast("decimal(38,0)").as("sxx"),
        sum(dec(col("y")) * col("y")).cast("decimal(38,0)").as("syy"),
        sum(dec(col("x")) * col("y")).cast("decimal(38,0)").as("sxy"))
      // a constant series (or a single overlapping day) zeroes a
      // variance: NULL r (the ANSI rule; ConstantCorpusSpec pins it)
      .select(col("lag").cast("long").as("lag"), col("n_days"),
        col("sxy").cast("long").as("sxy"),
        when((dec(col("n_days")) * col("sxx") - dec(col("sx")) * col("sx"))
          * (dec(col("n_days")) * col("syy") - dec(col("sy")) * col("sy")) > 0,
          (dec(col("n_days")) * col("sxy") - dec(col("sx")) * col("sy"))
            .cast("double")
            / sqrt((dec(col("n_days")) * col("sxx") - dec(col("sx")) * col("sx"))
              .cast("double")
              * (dec(col("n_days")) * col("syy") - dec(col("sy")) * col("sy"))
                .cast("double"))).as("r"))
      .orderBy("lag")
  }

  val xcorrDailyLagsSql: String =
    s"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day, event_type,
                CAST(COUNT(*) AS BIGINT) AS c
         FROM events WHERE event_type IN ('click', 'purchase')
         GROUP BY 1, 2),
       bounds AS (SELECT CAST(MIN(ts) AS DATE) AS lo,
                         CAST(MAX(ts) AS DATE) AS hi FROM events),
       spine AS (SELECT unnest(generate_series(lo, hi,
                          INTERVAL 1 DAY))::DATE AS day, lo
                 FROM bounds),
       xy AS MATERIALIZED (
         SELECT CAST(date_diff('day', s.lo, s.day) AS BIGINT) AS di,
                CAST(COALESCE(cx.c, 0) AS BIGINT) AS x,
                CAST(COALESCE(cy.c, 0) AS BIGINT) AS y
         FROM spine s
           LEFT JOIN daily cx ON s.day = cx.day AND cx.event_type = 'click'
           LEFT JOIN daily cy ON s.day = cy.day AND cy.event_type = 'purchase'),
       lagged AS (
         SELECT l.lag, a.x, b.y
         FROM (SELECT unnest(generate_series(0, $XcorrMaxLag)) AS lag) l
           JOIN xy a ON true
           JOIN xy b ON b.di = a.di + l.lag),
       m AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
                    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                    SUM(CAST(x AS HUGEINT) * x) AS sxx,
                    SUM(CAST(y AS HUGEINT) * y) AS syy,
                    SUM(CAST(x AS HUGEINT) * y) AS sxy
             FROM lagged GROUP BY 1)
       SELECT lag, n_days, CAST(sxy AS BIGINT) AS sxy,
              CASE WHEN (CAST(n_days AS HUGEINT) * sxx
                         - CAST(sx AS HUGEINT) * sx)
                        * (CAST(n_days AS HUGEINT) * syy
                           - CAST(sy AS HUGEINT) * sy) > 0 THEN
                CAST(CAST(CAST(n_days AS HUGEINT) * sxy
                          - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE)
                  / sqrt(CAST(CAST(CAST(n_days AS HUGEINT) * sxx
                                   - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(CAST(n_days AS HUGEINT) * syy
                                     - CAST(sy AS HUGEINT) * sy AS VARCHAR) AS DOUBLE))
                END AS r
       FROM m ORDER BY lag"""

  /** Seasonal-naive forecast backtest per event type — the MASE-style
    * accuracy gate every volume forecast must beat ("does last week
    * predict today better than yesterday does"): forecast(d) = n(d−7)
    * scored against the naive forecast n(d−1) over the zero-filled
    * per-type calendar, absolute-error sums exact BIGINT, MAE/ratio as
    * final double divisions. mase_like < 1 means weekly seasonality is
    * real and a seasonal model earns its keep (the [[seasonalityDow]]
    * index quantifies the pattern; this quantifies its predictive
    * value). Scale: types × span spine (both aggregate-bounded), three
    * equi-joins on (type, day index), one k-row aggregate. (round 6)
    */
  def forecastSeasonalNaive(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val bounds = ev
      .agg(to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
    val types = ev.select(col("event_type")).distinct()
    val spine = broadcast(bounds)
      .select(explode(sequence(col("lo"), col("hi"))).as("day"), col("lo"))
      .crossJoin(broadcast(types))
    val daily = ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val ser = spine.join(daily, Seq("day", "event_type"), "left")
      .select(col("event_type"),
        datediff(col("day"), col("lo")).cast("long").as("di"),
        coalesce(col("n"), lit(0L)).as("n"))
      .localCheckpoint() // feeds current, t-7 and t-1 sides
    ser.as("c")
      .join(ser.as("s7"),
        col("s7.event_type") === col("c.event_type") &&
          col("s7.di") === col("c.di") - 7)
      .join(ser.as("s1"),
        col("s1.event_type") === col("c.event_type") &&
          col("s1.di") === col("c.di") - 1)
      .groupBy(col("c.event_type").as("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("c.n") - col("s7.n"))).as("sae_seasonal"),
        sum(abs(col("c.n") - col("s1.n"))).as("sae_naive"))
      .select(col("event_type"), col("n_days"), col("sae_seasonal"),
        col("sae_naive"),
        (col("sae_seasonal").cast("double") / col("n_days").cast("double"))
          .as("mae_seasonal"),
        (col("sae_naive").cast("double") / col("n_days").cast("double"))
          .as("mae_naive"),
        when(col("sae_naive") > 0,
          col("sae_seasonal").cast("double") / col("sae_naive").cast("double"))
          .as("mase_like"))
      .orderBy("event_type")
  }

  val forecastSeasonalNaiveSql: String =
    """WITH bounds AS (SELECT CAST(MIN(ts) AS DATE) AS lo,
                             CAST(MAX(ts) AS DATE) AS hi FROM events),
       types AS (SELECT DISTINCT event_type FROM events),
       spine AS (SELECT unnest(generate_series(lo, hi,
                          INTERVAL 1 DAY))::DATE AS day, lo
                 FROM bounds),
       daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM events GROUP BY 1, 2),
       ser AS MATERIALIZED (
         SELECT t.event_type,
                CAST(date_diff('day', s.lo, s.day) AS BIGINT) AS di,
                CAST(COALESCE(d.n, 0) AS BIGINT) AS n
         FROM spine s CROSS JOIN types t
           LEFT JOIN daily d
             ON s.day = d.day AND t.event_type = d.event_type)
       SELECT c.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
              CAST(SUM(abs(c.n - s7.n)) AS BIGINT) AS sae_seasonal,
              CAST(SUM(abs(c.n - s1.n)) AS BIGINT) AS sae_naive,
              CAST(SUM(abs(c.n - s7.n)) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS mae_seasonal,
              CAST(SUM(abs(c.n - s1.n)) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS mae_naive,
              CASE WHEN SUM(abs(c.n - s1.n)) > 0 THEN
                CAST(SUM(abs(c.n - s7.n)) AS DOUBLE)
                  / CAST(SUM(abs(c.n - s1.n)) AS DOUBLE) END AS mase_like
       FROM ser c
         JOIN ser s7 ON s7.event_type = c.event_type AND s7.di = c.di - 7
         JOIN ser s1 ON s1.event_type = c.event_type AND s1.di = c.di - 1
       GROUP BY c.event_type
       ORDER BY c.event_type"""

  /** Seasonal Mann-Kendall trend test of the daily event-count series
    * — [[mannKendallTrend]]'s strong-seasonality sibling (Hirsch-Slack:
    * when weekly cycle dominates, plain MK's cross-weekday pairs drown
    * a real drift in seasonal noise; comparing only LIKE weekdays
    * removes the cycle without modeling it): the zero-filled daily
    * series splits into its 7 ISO-weekday subseries, S and the
    * tie-corrected var18 compute per subseries exactly as in plain MK
    * (all integer arithmetic), and the seasonal statistic is their sum
    * (subseries are independent under H0, variances add). Per-dow rows
    * surface the weekday detail; the summed s/var18/z repeat on each
    * row (a 7-row frame, duplication harmless). z is structurally
    * guarded: s_total != 0 implies an untied pair in some subseries,
    * hence var_total > 0 — same shape as [[mannKendallFrom]]. Scale:
    * pairs are (span/7)² × 7 ≈ span²/7 — calendar-bounded, never
    * corpus-bounded; everything else is 7-row aggregates. (round 9)
    */
  def seasonalMannKendall(s: SparkSession, dir: String): DataFrame = {
    val ser = filledDays(s, dir)
      .select((expr("weekday(day)") + 1).as("iso_dow"), col("day"), col("n"))
      .localCheckpoint() // span-sized; feeds pairs both sides + ties
    val sStat = ser.as("a").join(ser.as("b"),
        col("b.iso_dow") === col("a.iso_dow") && col("b.day") > col("a.day"))
      .groupBy(col("a.iso_dow").as("iso_dow"))
      .agg(sum(signum((col("b.n") - col("a.n")).cast("double"))
        .cast("long")).as("s_stat"))
    val nD = ser.groupBy("iso_dow").agg(count(lit(1)).as("nd"))
    val ties = ser.groupBy(col("iso_dow"), col("n"))
      .agg(count(lit(1)).as("t"))
      .groupBy("iso_dow")
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tsum"))
    val perDow = nD.join(sStat, Seq("iso_dow")).join(ties, Seq("iso_dow"))
      .select(col("iso_dow"), col("nd").as("n_days"), col("s_stat"),
        (col("nd") * (col("nd") - 1) * (col("nd") * 2 + 5) - col("tsum"))
          .as("var18"))
    val tot = perDow.agg(sum(col("s_stat")).as("s_tot"),
      sum(col("var18")).as("var_tot"))
    perDow.crossJoin(broadcast(tot))
      .select(col("iso_dow"), col("n_days"), col("s_stat"), col("var18"),
        col("s_tot").as("s_seasonal"), col("var_tot").as("var18_seasonal"),
        when(col("s_tot") > 0,
          (col("s_tot") - 1).cast("double")
            / sqrt(col("var_tot").cast("double") / lit(18.0e0)))
          .when(col("s_tot") < 0,
            (col("s_tot") + 1).cast("double")
              / sqrt(col("var_tot").cast("double") / lit(18.0e0)))
          .otherwise(lit(0.0e0)).as("z_seasonal"))
      .orderBy("iso_dow")
  }

  val seasonalMannKendallSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM events GROUP BY 1),
       bounds AS (SELECT CAST(MIN(ts) AS DATE) AS lo,
                         CAST(MAX(ts) AS DATE) AS hi FROM events),
       spine AS (SELECT unnest(generate_series(lo, hi,
                          INTERVAL 1 DAY))::DATE AS day
                 FROM bounds),
       ser AS MATERIALIZED (
         SELECT CAST(isodow(s.day) AS INT) AS iso_dow, s.day,
                CAST(COALESCE(d.n, 0) AS BIGINT) AS n
         FROM spine s LEFT JOIN daily d ON s.day = d.day),
       st AS (SELECT a.iso_dow,
                     CAST(SUM(CAST(sign(b.n - a.n) AS BIGINT)) AS BIGINT)
                       AS s_stat
              FROM ser a JOIN ser b
                ON b.iso_dow = a.iso_dow AND b.day > a.day
              GROUP BY 1),
       nd AS (SELECT iso_dow, CAST(COUNT(*) AS BIGINT) AS nd
              FROM ser GROUP BY 1),
       ti AS (SELECT iso_dow,
                     CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
              FROM (SELECT iso_dow, CAST(COUNT(*) AS BIGINT) AS t
                    FROM ser GROUP BY iso_dow, n)
              GROUP BY 1),
       pd AS (SELECT nd.iso_dow, nd.nd AS n_days, st.s_stat,
                     nd.nd * (nd.nd - 1) * (2 * nd.nd + 5) - ti.tsum
                       AS var18
              FROM nd JOIN st ON st.iso_dow = nd.iso_dow
                      JOIN ti ON ti.iso_dow = nd.iso_dow),
       tt AS (SELECT CAST(SUM(s_stat) AS BIGINT) AS s_tot,
                     CAST(SUM(var18) AS BIGINT) AS var_tot FROM pd)
       SELECT iso_dow, n_days, s_stat, var18,
              s_tot AS s_seasonal, var_tot AS var18_seasonal,
              CASE WHEN s_tot > 0 THEN
                     CAST(s_tot - 1 AS DOUBLE)
                       / sqrt(CAST(var_tot AS DOUBLE) / 18.0)
                   WHEN s_tot < 0 THEN
                     CAST(s_tot + 1 AS DOUBLE)
                       / sqrt(CAST(var_tot AS DOUBLE) / 18.0)
                   ELSE 0.0 END AS z_seasonal
       FROM pd CROSS JOIN tt
       ORDER BY iso_dow"""

  /** Fixed-point scale for [[ljungBox]]'s per-lag terms (1.0 == 10^9:
    * each term is rho² / (T−k) <= 1, so the scaled running sum stays
    * under 10^9 · maxlag — far inside BIGINT). The term floors in TWO
    * division steps on |num| (t1 = ⌊|num|·S / aa⌋, term = ⌊t1·|num| /
    * (bb·(T−k))⌋) rather than squaring num: num² saturated
    * DECIMAL(38,0)/HUGEINT near T²·x̄² ~ 10^19 (10^6 events/day on a
    * 10-year spine — the round-9 bound). The staged form is bounded by
    * Cauchy-Schwarz (num² <= aa·bb, so t1·|num| <= S·bb) and saturates
    * only past aa, bb ~ 10^29 ≈ 10^10–10^11 events/day on the same
    * spine — beyond any daily-grain corpus this engine targets. The
    * two floors differ from the single floor by < sqrt(aa/bb)/(T−k)
    * scaled units (~1e-9 of a rho² unit for the near-equal lag/lead
    * variances of a shifted series) — both engines compute the SAME
    * staged expression, so parity is exact. All staged operands are
    * non-negative, keeping Spark's trunc `div` and DuckDB's floor `//`
    * identical. */
  val LbScale = 1000000000L

  /** The staged Ljung-Box term over a per-lag moments frame — factored
    * so the saturation spec can drive it at magnitudes the testdata
    * cannot reach (the old num² bound). Input columns: lag, cnt,
    * sx/sy/sxy/sxx/syy as DECIMAL(38,0); `tot` is the 1-row spine
    * length (t). Each guarded division appears exactly once inside its
    * own projection (the §7b ANSI-CSE staging rule).
    */
  private[graft] def lbTermFrame(m: DataFrame, tot: DataFrame): DataFrame =
    m.crossJoin(broadcast(tot))
      .select(col("lag"), col("cnt"), col("t"),
        abs(col("cnt") * col("sxy") - col("sx") * col("sy")).as("anum"),
        (col("cnt") * col("sxx") - col("sx") * col("sx")).as("aa"),
        (col("cnt") * col("syy") - col("sy") * col("sy")).as("bb"))
      .select(col("lag"), col("cnt"), col("t"), col("anum"), col("bb"),
        when(col("aa") > 0 && col("bb") > 0,
          expr(s"(anum * ${LbScale}L) div aa")).as("t1"))
      .select(col("lag"), col("cnt"), col("t"),
        when(col("t1").isNotNull,
          expr("(t1 * anum) div (bb * (t - lag))")).as("term"))

  /** Ljung-Box portmanteau statistic of the daily series at lags 1..7
    * — the "is there ANY autocorrelation left" gate next to
    * [[acfDaily]]'s per-lag picture (the standard residual-whiteness
    * check an ARIMA fitter reports): Q(m) = T(T+2) Σ_{k<=m}
    * rho_k²/(T−k), cumulative per lag. rho² needs NO sqrt — it is
    * num²/(a·b) over the same exact decimal moments acf feeds its
    * sqrt, so each term floors to a fixed-point BIGINT
    * ((num²·scale) div (a·b·(T−k)) — the [[Chi2Scale]] discipline) and
    * the cumulative sum is an exact integer window sum; one double
    * multiply/divide at the very end. A zero-variance lag (a·b = 0)
    * contributes NULL and is skipped by SUM in both engines — the same
    * verdict acf's rho gives it. Scale: inherits acf's span-sized pair
    * machinery; everything after is maxlag rows. (round 9)
    */
  def ljungBox(s: SparkSession, dir: String): DataFrame = {
    val filled = filledDays(s, dir).select(col("day"), col("n"))
      .localCheckpoint() // feeds pairs both sides + the T scalar
    val lagged = filled.select(col("day").as("lday"), col("n").as("y"))
    val pairs = filled
      .select(col("day"), col("n").as("x"),
        explode(sequence(lit(1), lit(AcfMaxLag))).as("lag"))
      .withColumn("mday", expr("date_add(day, lag)"))
      .join(lagged, col("mday") === col("lday"))
      .select(col("lag"), col("x").cast("decimal(19,0)").as("x"),
        col("y").cast("decimal(19,0)").as("y"))
    val m = pairs.groupBy("lag")
      .agg(count(lit(1)).as("cnt"),
        sum(col("x")).cast("decimal(38,0)").as("sx"),
        sum(col("y")).cast("decimal(38,0)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(38,0)").as("sxy"),
        sum(col("x") * col("x")).cast("decimal(38,0)").as("sxx"),
        sum(col("y") * col("y")).cast("decimal(38,0)").as("syy"))
    val tot = filled.agg(count(lit(1)).as("t"))
    val terms = lbTermFrame(m, tot)
    // cumulative Q per lag WITHOUT a window (the pacf precedent: both
    // engines' formula trees are GENERATED from the same loop over a
    // ONE-ROW frame — a running-sum window here would be the global
    // single-task window the registry guard forbids, and maxlag is a
    // compile-time 7): pivot terms to columns, emit one struct per m
    val aggCols = max(col("t")).as("t") +:
      (1 to AcfMaxLag).map(k =>
        max(when(col("lag") === k, col("term"))).as(s"t$k"))
    val one = terms.agg(aggCols.head, aggCols.tail: _*)
    val rows = (1 to AcfMaxLag).map { m =>
      val ts = (1 to m).map(k => col(s"t$k"))
      // q_m is NULL only when every contributing lag degenerated;
      // otherwise degenerate lags contribute 0 (SUM-skip semantics)
      val qScaled = when(coalesce(ts: _*).isNotNull,
        ts.map(c => coalesce(c, lit(0L))).reduce(_ + _))
      struct(lit(m.toLong).as("lag"),
        (col("t") - m).as("n_pairs"),
        ((col("t") * (col("t") + 2)).cast("double")
          * qScaled.cast("double") / lit(1.0e9)).as("q_stat"))
    }
    one.select(explode(array(rows: _*)).as("s"))
      .select(col("s.lag").as("lag"), col("s.n_pairs").as("n_pairs"),
        col("s.q_stat").as("q_stat"))
      .filter(col("n_pairs") > 0)
      .orderBy("lag")
  }

  val ljungBoxSql: String =
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM events GROUP BY 1),
       bounds AS (SELECT CAST(MIN(ts) AS DATE) AS lo,
                         CAST(MAX(ts) AS DATE) AS hi FROM events),
       spine AS (SELECT unnest(generate_series(lo, hi,
                          INTERVAL 1 DAY))::DATE AS day
                 FROM bounds),
       filled AS MATERIALIZED (
         SELECT s.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n
         FROM spine s LEFT JOIN daily d ON s.day = d.day),
       pairs AS (
         SELECT l.lag, CAST(a.n AS HUGEINT) AS x, CAST(b.n AS HUGEINT) AS y
         FROM filled a
           CROSS JOIN (SELECT UNNEST(generate_series(1, $AcfMaxLag))
                         AS lag) l
           JOIN filled b ON b.day = a.day + CAST(l.lag AS INT)),
       m AS (SELECT lag, CAST(COUNT(*) AS HUGEINT) AS cnt,
                    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                    SUM(x * x) AS sxx, SUM(y * y) AS syy
             FROM pairs GROUP BY 1),
       tt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM filled),
       pre AS (
         SELECT lag, cnt, t,
                abs(cnt * sxy - sx * sy) AS anum,
                (cnt * sxx - sx * sx) AS aa,
                (cnt * syy - sy * sy) AS bb
         FROM m CROSS JOIN tt),
       terms AS (
         SELECT lag, cnt, t,
                CASE WHEN aa > 0 AND bb > 0 THEN
                  (((anum * ${LbScale}) // aa) * anum)
                    // (bb * (t - lag))
                END AS term
         FROM pre),
       agg AS (SELECT MAX(t) AS t,
${(1 to AcfMaxLag).map(k =>
      s"                      MAX(CASE WHEN lag = $k THEN term END) AS t$k")
      .mkString(",\n")}
               FROM terms),
       qrows AS (
${(1 to AcfMaxLag).map { mm =>
      val cs = (1 to mm).map(k => s"t$k")
      val co = cs.map(c => s"COALESCE($c, 0)").mkString(" + ")
      s"""         SELECT CAST($mm AS BIGINT) AS lag,
         CAST(t - $mm AS BIGINT) AS n_pairs,
         CASE WHEN COALESCE(${cs.mkString(", ")}) IS NOT NULL THEN
           CAST(CAST(t * (t + 2) AS BIGINT) AS DOUBLE)
             * CAST(CAST($co AS BIGINT) AS DOUBLE) / 1000000000.0
         END AS q_stat FROM agg"""
    }.mkString("\n         UNION ALL\n")})
       SELECT lag, n_pairs, q_stat FROM qrows
       WHERE n_pairs > 0 ORDER BY lag"""

  /** Grubbs' max-outlier statistic of the daily event-count series —
    * "how extreme is the single most extreme day" as one
    * distribution-backed number (the formal cousin of
    * [[graft.operators.Stats]]' z-score flags: those list days over a
    * fixed threshold, this scores THE argmax against its proper
    * G-distribution input): G = max|n_i − mean| / s. The deviation
    * ranking is exact — dev_i = |n_i·T − Σn| in BIGINT (T·|n−mean|,
    * monotone in the true deviation), argmax tie-broken by earliest
    * day; mean and s appear only in the final double expression from
    * exact decimal moments. Zero variance (constant series) yields
    * NULL, never a throw. Scale: one span-sized scan + a broadcast
    * 1-row moment frame; TakeOrdered top-1. (round 9)
    */
  def grubbsMaxDay(s: SparkSession, dir: String): DataFrame = {
    val ser = filledDays(s, dir)
      .select(datediff(col("day"), col("lo")).cast("long").as("di"), col("n"))
    val mom = ser.agg(count(lit(1)).as("t"),
      sum(col("n").cast("decimal(19,0)")).cast("decimal(38,0)").as("sx"),
      sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("sxx"))
    ser.crossJoin(broadcast(mom))
      .select(col("di"), col("n"), col("t"), col("sx"), col("sxx"),
        abs(col("n").cast("decimal(38,0)") * col("t") - col("sx"))
          .as("dev"))
      .orderBy(col("dev").desc, col("di"))
      .limit(1)
      .select(col("di"), col("n"), col("t").as("n_days"),
        when(col("t") >= 3 &&
            col("t") * col("sxx") - col("sx") * col("sx") > 0,
          col("dev").cast("double") / col("t").cast("double")
            / sqrt((col("t") * col("sxx") - col("sx") * col("sx"))
                .cast("double")
              / (col("t") * (col("t") - 1)).cast("double")))
          .as("g_stat"))
  }

  val grubbsMaxDaySql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM events GROUP BY 1),
       bounds AS (SELECT CAST(MIN(ts) AS DATE) AS lo,
                         CAST(MAX(ts) AS DATE) AS hi FROM events),
       spine AS (SELECT unnest(generate_series(lo, hi,
                          INTERVAL 1 DAY))::DATE AS day, lo
                 FROM bounds),
       ser AS (SELECT CAST(date_diff('day', s.lo, s.day) AS BIGINT) AS di,
                      CAST(COALESCE(d.n, 0) AS BIGINT) AS n
               FROM spine s LEFT JOIN daily d ON s.day = d.day),
       mom AS (SELECT CAST(COUNT(*) AS HUGEINT) AS t,
                      CAST(SUM(CAST(n AS HUGEINT)) AS HUGEINT) AS sx,
                      CAST(SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT))
                        AS HUGEINT) AS sxx
               FROM ser)
       SELECT di, n, CAST(t AS BIGINT) AS n_days,
              CASE WHEN t >= 3 AND t * sxx - sx * sx > 0 THEN
                CAST(CAST(abs(CAST(n AS HUGEINT) * t - sx) AS VARCHAR)
                    AS DOUBLE)
                  / CAST(CAST(t AS VARCHAR) AS DOUBLE)
                  / sqrt(CAST(CAST(t * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(t * (t - 1) AS VARCHAR) AS DOUBLE))
              END AS g_stat
       FROM ser CROSS JOIN mom
       ORDER BY abs(CAST(n AS HUGEINT) * t - sx) DESC, di
       LIMIT 1"""

  /** Additive seasonal decomposition of the daily series at weekly
    * period — the classical decompose step between [[seasonalityDow]]'s
    * ratio index and [[seasonalityStrengthDow]]'s variance share: the
    * trend is a centered 7-day moving average (computed WITHOUT a
    * global window: the series equi-joins itself through an
    * explode(-3..3) offset frame — |span|×7 rows, day-keyed — and only
    * FULL windows qualify, so edges drop instead of biasing), the
    * seasonal component per ISO weekday is the mean of the detrended
    * series. Everything until the final division is exact: detrend is
    * 7·n − t7 in BIGINT (7× avoids fractional trend), the per-dow mean
    * divides once into a double. Scale: calendar-bounded throughout.
    * (round 9)
    */
  def seasonalDecomposeDow(s: SparkSession, dir: String): DataFrame = {
    val filled = filledDays(s, dir).select(col("day"), col("n"))
      .localCheckpoint() // feeds the window join twice (center + member)
    val member = filled.select(col("day").as("mday"), col("n").as("mn"))
    val win = filled
      .select(col("day"), col("n"),
        explode(sequence(lit(-3), lit(3))).as("off"))
      .withColumn("jday", expr("date_add(day, off)"))
      .join(member, col("jday") === col("mday"))
      .groupBy(col("day"), col("n"))
      .agg(count(lit(1)).as("wcnt"), sum(col("mn")).as("t7"))
      .filter(col("wcnt") === 7)
    win
      .groupBy((expr("weekday(day)") + 1).as("iso_dow"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n") * 7 - col("t7")).as("detrend_7x"))
      .select(col("iso_dow"), col("n_days"), col("detrend_7x"),
        when(col("n_days") > 0,
          col("detrend_7x").cast("double")
            / (col("n_days") * 7).cast("double")).as("seasonal"))
      .orderBy("iso_dow")
  }

  val seasonalDecomposeDowSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM events GROUP BY 1),
       bounds AS (SELECT CAST(MIN(ts) AS DATE) AS lo,
                         CAST(MAX(ts) AS DATE) AS hi FROM events),
       spine AS (SELECT unnest(generate_series(lo, hi,
                          INTERVAL 1 DAY))::DATE AS day
                 FROM bounds),
       filled AS MATERIALIZED (
         SELECT s.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n
         FROM spine s LEFT JOIN daily d ON s.day = d.day),
       win AS (
         SELECT a.day, a.n, CAST(COUNT(*) AS BIGINT) AS wcnt,
                CAST(SUM(b.n) AS BIGINT) AS t7
         FROM filled a
           CROSS JOIN (SELECT UNNEST(generate_series(-3, 3)) AS off) o
           JOIN filled b ON b.day = a.day + CAST(o.off AS INT)
         GROUP BY 1, 2),
       full_w AS (SELECT * FROM win WHERE wcnt = 7)
       SELECT CAST(isodow(day) AS INT) AS iso_dow,
              CAST(COUNT(*) AS BIGINT) AS n_days,
              CAST(SUM(n * 7 - t7) AS BIGINT) AS detrend_7x,
              CASE WHEN COUNT(*) > 0 THEN
                CAST(SUM(n * 7 - t7) AS DOUBLE)
                  / CAST(COUNT(*) * 7 AS DOUBLE)
              END AS seasonal
       FROM full_w GROUP BY 1 ORDER BY iso_dow"""

  /** HITS fixed-point scale (1.0 == 10^12) and unrolled sweep count —
    * the [[PiScale]]/[[MarkovIters]] convention. Per sweep every score
    * renormalizes to <= HitsScale, so the decimal contribution mass is
    * bounded by |transitions|·HitsScale (~10^33 for 10^9 events — nine
    * digits inside DECIMAL(38,0)/HUGEINT) regardless of sweep count. */
  val HitsScale = 1000000000000L
  val HitsIters = 6

  /** HITS hubs & authorities of the directed event-transition graph —
    * Kleinberg's dual centrality next to [[markovStationary]]'s
    * occupancy ("where does the chain settle" vs "which states FEED
    * the destinations (hubs) and which ARE the destinations
    * (authorities)" — on a UI event graph, hubs are the launch points,
    * authorities the landing points): weighted mutual reinforcement
    * a = norm(Aᵀh), h = norm(A·a) with transition counts as weights,
    * [[HitsIters]] unrolled sweeps. All integer arithmetic: per-sweep
    * L1 renormalization to [[HitsScale]] by integral division (the
    * pagerank/markov fixed-point discipline — bit-identical across
    * engines and partitionings where float HITS could not be
    * oracle-gated); a zero normalization mass yields 0, never a
    * divide. Scale: the edge frame is states²-bounded regardless of
    * corpus size; everything after the one events scan is tiny.
    * (round 9)
    */
  def hitsTransitions(s: SparkSession, dir: String): DataFrame =
    hitsFrom(Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("event_id")))

  /** Core over any (user_id, event_type, t, event_id) sequence frame
    * (spec hand-checks a pure chain and a two-hub fan). */
  private[operators] def hitsFrom(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val pairs = ev
      .select(col("user_id"), col("event_type").as("f"),
        col("t"), col("event_id"))
      .withColumn("tt", lead(col("f"), 1).over(w))
      .filter(col("tt").isNotNull)
      .groupBy("f", "tt").agg(count(lit(1)).as("n"))
      .localCheckpoint() // states²; feeds every sweep twice
    val states = pairs.select(col("f").as("st"))
      .union(pairs.select(col("tt").as("st"))).distinct()
      .localCheckpoint()
    def pass(joinCol: String, outCol: String, vec: DataFrame): DataFrame = {
      val contrib = pairs
        .join(vec.select(col("st").as("vst"), col("s")),
          col(joinCol) === col("vst"))
        .select(col(outCol).as("st2"),
          (col("n").cast("decimal(38,0)") * col("s")).as("c"))
        .groupBy("st2").agg(sum(col("c")).as("rawi"))
      states.join(contrib, col("st") === col("st2"), "left")
        .select(col("st"),
          coalesce(col("rawi"), lit(0L).cast("decimal(38,0)")).as("raw"))
    }
    def normalize(rawDf: DataFrame): DataFrame = {
      val tot = rawDf.agg(sum(col("raw")).as("t"))
      rawDf.crossJoin(broadcast(tot))
        .select(col("st"),
          when(col("t") > 0, expr(s"(raw * ${HitsScale}L) div t"))
            .otherwise(lit(0L)).as("s"))
    }
    var h = states.select(col("st"), lit(HitsScale).as("s"))
    var a = h
    for (_ <- 1 to HitsIters) {
      // eager per-sweep checkpoint (the dedupClusters loop rule):
      // normalize reads its input twice (mass + division), so an
      // unchecked lineage would double the recompute every sweep —
      // 2^sweeps by the last one. The frames are states-sized.
      a = normalize(pass("f", "tt", h)).localCheckpoint(true)
      h = normalize(pass("tt", "f", a)).localCheckpoint(true)
    }
    states
      .join(a.select(col("st").as("ast"), col("s").as("authority_fp")),
        col("st") === col("ast"))
      .join(h.select(col("st").as("hst"), col("s").as("hub_fp")),
        col("st") === col("hst"))
      .select(col("st").as("event_type"), col("authority_fp"),
        col("hub_fp"),
        (col("authority_fp").cast("double") / lit(HitsScale.toDouble))
          .as("authority"),
        (col("hub_fp").cast("double") / lit(HitsScale.toDouble)).as("hub"))
      .orderBy("event_type")
  }

  val hitsTransitionsSql: String = {
    def pass(i: Int, from: String, joinCol: String, outCol: String,
        rawName: String): String =
      s"""$rawName AS MATERIALIZED (
           SELECT s.st,
                  CAST(COALESCE(SUM(CAST(e.n AS HUGEINT) * v.s), 0)
                    AS HUGEINT) AS raw
           FROM states s
             LEFT JOIN pairs e ON e.$outCol = s.st
             LEFT JOIN $from v ON v.st = e.$joinCol
           GROUP BY s.st)"""
    def norm(rawName: String, totName: String, outName: String): String =
      s"""$totName AS MATERIALIZED (SELECT CAST(SUM(raw) AS HUGEINT) AS t
                       FROM $rawName),
         $outName AS MATERIALIZED (SELECT st,
                CASE WHEN t > 0 THEN
                  CAST((raw * $HitsScale) // t AS BIGINT)
                ELSE 0 END AS s
              FROM $rawName CROSS JOIN $totName)"""
    val sweeps = (1 to HitsIters).map { i =>
      val hPrev = if (i == 1) "h0" else s"h${i - 1}"
      s"""${pass(i, hPrev, "f", "tt", s"ar$i")},
         ${norm(s"ar$i", s"at$i", s"a$i")},
         ${pass(i, s"a$i", "tt", "f", s"hr$i")},
         ${norm(s"hr$i", s"ht$i", s"h$i")}"""
    }.mkString(",\n       ")
    s"""WITH pairs AS MATERIALIZED (
         SELECT f, tt, CAST(COUNT(*) AS BIGINT) AS n
         FROM (
           SELECT event_type AS f,
                  LEAD(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS tt
           FROM events)
         WHERE tt IS NOT NULL GROUP BY 1, 2),
       states AS MATERIALIZED (SELECT DISTINCT f AS st FROM pairs
                  UNION SELECT DISTINCT tt FROM pairs),
       h0 AS MATERIALIZED (SELECT st, CAST($HitsScale AS BIGINT) AS s
                           FROM states),
       $sweeps
       SELECT s.st AS event_type,
              a$HitsIters.s AS authority_fp, h$HitsIters.s AS hub_fp,
              CAST(a$HitsIters.s AS DOUBLE) / $HitsScale.0 AS authority,
              CAST(h$HitsIters.s AS DOUBLE) / $HitsScale.0 AS hub
       FROM states s
         JOIN a$HitsIters ON a$HitsIters.st = s.st
         JOIN h$HitsIters ON h$HitsIters.st = s.st
       ORDER BY event_type"""
  }

  /** Value-bucket width for [[jonckheereTerpstra]]'s per-group prefix
    * sums over the order-price grid (the [[graft.operators.Curation]]
    * KsLenBucket rule at price scale: bucket count rides the VALUE
    * RANGE, never row count, so the offsets self-join stays tiny). */
  val JtValBucket = 1024.0

  /** Jonckheere-Terpstra trend test — "does order value RISE across
    * the ordered priority levels" ([[kruskalWallis]] asks if the k
    * groups differ AT ALL; JT tests the specifically ORDERED
    * alternative, gaining power exactly where [[cochranArmitageTrend]]
    * does for proportions — this is its continuous-outcome sibling):
    * JT = Σ_{i<j} U_ij over ordered group pairs. Computed WITHOUT any
    * pairwise row join: U_ij = Σ_v cnt_j(v)·(#i-rows below v + ties/2),
    * so the whole statistic needs only each group's exact step-CDF on
    * the shared price grid ([[graft.functions.Keys.prefixSums]] grouped
    * by priority, as in [[graft.operators.Curation.ksSourceMatrix]]),
    * then one grid-sized equi-join
    * on the value with the group ORDER as a 5×5-bounded residual.
    * Doubled (JT×2) to keep tie halves integral; mean and the UNTIED
    * variance (documented approximation under ties — prices are
    * near-unique) in exact DECIMAL, one sqrt + one double division.
    * NULL on degenerate variance. Scale: cells are groups×values, the
    * grid likewise, offsets groups×buckets; nothing is ever rows².
    * (round 9)
    */
  def jonckheereTerpstra(s: SparkSession, dir: String): DataFrame =
    jtFromCells(Tables.orders(s, dir)
      .groupBy(substring(col("o_orderpriority"), 1, 1).cast("int").as("g"),
        col("o_totalprice").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()) // groups×values; feeds grid, totals, the join

  /** Core over any aggregated (g int, v double, c long) cell frame
    * (spec hand-checks JT/E/z on a worked example). */
  private[operators] def jtFromCells(cells: DataFrame): DataFrame = {
    val vals = cells.select("v").distinct()
    val grps = cells.select("g").distinct()
    val grid0 = vals.crossJoin(grps)
      .join(cells, Seq("g", "v"), "left")
      .select(col("g"), col("v"), coalesce(col("c"), lit(0L)).as("c0"))
    val grid = Keys.prefixSums(grid0, Seq("g"),
        floor(col("v") / lit(JtValBucket)).cast("long"), Seq(col("v")), Seq("c0"))
      .withColumnRenamed("cum_c0", "cum")
    // U_ij doubled: cnt_j·(2·below_i + ties_i) = cnt_j·(2·cum_i − c0_i)
    val jt2 = cells.as("j")
      .join(grid.as("i"), col("i.v") === col("j.v")
        && col("i.g") < col("j.g"))
      .agg(sum(col("j.c").cast("decimal(38,0)")
        * (col("i.cum") * 2 - col("i.c0"))).as("jt_x2"))
    val mom = cells.groupBy("g").agg(sum(col("c")).as("ni"))
      .agg(sum(col("ni")).as("n"), count(lit(1)).as("k"),
        sum(col("ni").cast("decimal(38,0)") * col("ni")).as("sn2"),
        sum(col("ni").cast("decimal(38,0)") * col("ni")
          * (col("ni") * 2 + 3)).as("sn23"))
    jt2.crossJoin(broadcast(mom))
      // 2·E[JT] = Σ_{i<j} n_i·n_j = (N² − Σn²)/2 — the cross-pair
      // count halves once for the unordered pair sum and once more for
      // E[U] = n_i·n_j/2; N² − Σn² is even, so the div is exact
      .select(col("n"), col("k"), col("jt_x2").cast("long").as("jt_x2"),
        expr("(cast(n as decimal(38,0)) * n - sn2) div 2").as("e_x2"),
        (col("n").cast("decimal(38,0)") * col("n")
          * (col("n") * 2 + 3) - col("sn23")).as("var72"))
      .select(col("n"), col("k"), col("jt_x2"), col("e_x2"),
        when(col("var72") > 0,
          (col("jt_x2") - col("e_x2")).cast("double") / lit(2.0e0)
            / sqrt(col("var72").cast("double") / lit(72.0e0))).as("z"))
  }

  val jonckheereTerpstraSql: String =
    s"""WITH cells AS MATERIALIZED (
         SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
                o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c
         FROM orders GROUP BY 1, 2),
       vals AS (SELECT DISTINCT v FROM cells),
       grps AS (SELECT DISTINCT g FROM cells),
       grid0 AS (
         SELECT gr.g, va.v, CAST(COALESCE(ce.c, 0) AS BIGINT) AS c0
         FROM vals va CROSS JOIN grps gr
           LEFT JOIN cells ce ON ce.g = gr.g AND ce.v = va.v),
       bucketed AS (
         SELECT g, v, c0,
                CAST(floor(v / $JtValBucket) AS BIGINT) AS bk
         FROM grid0),
       bt AS (SELECT g, bk, CAST(SUM(c0) AS BIGINT) AS t
              FROM bucketed GROUP BY 1, 2),
       boff AS (SELECT x.g, x.bk,
                       CAST(COALESCE(SUM(y.t), 0) AS BIGINT) AS off
                FROM bt x LEFT JOIN bt y
                  ON y.g = x.g AND y.bk < x.bk
                GROUP BY 1, 2),
       grid AS (
         SELECT b.g, b.v, b.c0,
                CAST(SUM(b.c0) OVER (PARTITION BY b.g, b.bk ORDER BY b.v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) + o.off AS cum
         FROM bucketed b JOIN boff o ON o.g = b.g AND o.bk = b.bk),
       jt AS (SELECT CAST(SUM(CAST(j.c AS HUGEINT)
                       * (i.cum * 2 - i.c0)) AS HUGEINT) AS jt_x2
              FROM cells j JOIN grid i ON i.v = j.v AND i.g < j.g),
       ni AS (SELECT g, CAST(SUM(c) AS HUGEINT) AS ni
              FROM cells GROUP BY 1),
       mom AS (SELECT CAST(SUM(ni) AS HUGEINT) AS n,
                      CAST(COUNT(*) AS BIGINT) AS k,
                      CAST(SUM(ni * ni) AS HUGEINT) AS sn2,
                      CAST(SUM(ni * ni * (2 * ni + 3)) AS HUGEINT) AS sn23
               FROM ni)
       SELECT CAST(n AS BIGINT) AS n, k,
              CAST(jt_x2 AS BIGINT) AS jt_x2,
              CAST((n * n - sn2) // 2 AS BIGINT) AS e_x2,
              CASE WHEN n * n * (2 * n + 3) - sn23 > 0 THEN
                CAST(jt_x2 - (n * n - sn2) // 2 AS DOUBLE) / 2.0
                  / sqrt(CAST(CAST(n * n * (2 * n + 3) - sn23 AS VARCHAR)
                      AS DOUBLE) / 72.0)
              END AS z
       FROM jt CROSS JOIN mom"""

  /** Cochran-Armitage trend test — "does the completed-order share
    * TREND across the ordered priority levels" (chi² independence says
    * association exists somewhere; this tests the specifically ORDERED
    * alternative, the right question for an ordinal factor): scores
    * s_i = the priority's leading digit (1..5), outcome = orderstatus
    * 'F'. z = T̃ / sqrt(R(N−R)·B / N) with T̃ = Σ s_i(N·r_i − R·n_i)
    * and B = N·Σn_i s_i² − (Σn_i s_i)² — every sum an exact
    * BIGINT/DECIMAL over the 5-row contingency frame, one sqrt + one
    * double division at the end, NULL when the variance degenerates
    * (all orders one status, or one priority level). Scale: one orders
    * scan → 5 groups → 1 row. (round 9)
    */
  def cochranArmitageTrend(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val g = o.groupBy(substring(col("o_orderpriority"), 1, 1).cast("int")
        .as("score"))
      .agg(count(lit(1)).as("n_i"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("r_i"))
    val tots = g.agg(sum(col("n_i")).as("nn"), sum(col("r_i")).as("rr"))
    g.crossJoin(broadcast(tots))
      .agg(max(col("nn")).as("n"), max(col("rr")).as("r"),
        // N·r_i widens to decimal BEFORE the multiply: at N ~ 10^9
        // orders the long product would sit one digit from wrap
        sum(col("score").cast("decimal(38,0)")
          * (col("nn").cast("decimal(38,0)") * col("r_i")
            - col("rr").cast("decimal(38,0)") * col("n_i"))).as("t_num"),
        sum(col("n_i").cast("decimal(38,0)") * col("score")).as("sns"),
        sum(col("n_i").cast("decimal(38,0)") * col("score") * col("score"))
          .as("sns2"))
      .select(col("n"), col("r"), col("t_num").cast("long").as("t_num"),
        when(col("r") * (col("n") - col("r"))
            * (col("n") * col("sns2") - col("sns") * col("sns")) > 0,
          col("t_num").cast("double")
            / sqrt((col("r") * (col("n") - col("r"))
                * (col("n") * col("sns2") - col("sns") * col("sns")))
                .cast("decimal(38,0)").cast("double")
              / col("n").cast("double")))
          .as("z"))
  }

  val cochranArmitageTrendSql: String =
    """WITH g AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS INT)
                    AS score,
                        CAST(COUNT(*) AS HUGEINT) AS n_i,
                        CAST(SUM(CASE WHEN o_orderstatus = 'F'
                                      THEN 1 ELSE 0 END) AS HUGEINT) AS r_i
                 FROM orders GROUP BY 1),
       tt AS (SELECT CAST(SUM(n_i) AS HUGEINT) AS nn,
                     CAST(SUM(r_i) AS HUGEINT) AS rr FROM g),
       agg AS (SELECT MAX(nn) AS n, MAX(rr) AS r,
                      SUM(CAST(score AS HUGEINT)
                        * (nn * r_i - rr * n_i)) AS t_num,
                      SUM(n_i * score) AS sns,
                      SUM(n_i * score * score) AS sns2
               FROM g CROSS JOIN tt)
       SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
              CAST(t_num AS BIGINT) AS t_num,
              CASE WHEN r * (n - r) * (n * sns2 - sns * sns) > 0 THEN
                CAST(CAST(t_num AS VARCHAR) AS DOUBLE)
                  / sqrt(CAST(CAST(r * (n - r)
                        * (n * sns2 - sns * sns) AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(n AS VARCHAR) AS DOUBLE))
              END AS z
       FROM agg"""

  def queries: Seq[Q] = Seq(
    Q("chi2_independence", Some(chi2IndependenceSql))(chi2Independence),
    Q("cramers_v", Some(cramersVSql))(cramersV),
    Q("kruskal_wallis", Some(kruskalWallisSql), bench = true)(kruskalWallis),
    Q("anova_oneway", Some(anovaOnewaySql))(anovaOneway),
    Q("levene_brown_forsythe", Some(leveneBrownForsytheSql))(leveneBrownForsythe),
    Q("runs_test", Some(runsTestSql))(runsTest),
    Q("durbin_watson_daily", Some(durbinWatsonDailySql))(durbinWatsonDaily),
    Q("cochran_q", Some(cochranQSql))(cochranQ),
    Q("anomaly_mad_days", Some(anomalyMadDaysSql))(anomalyMadDays),
    Q("lorenz_deciles", Some(lorenzDecilesSql))(lorenzDeciles),
    Q("mcnemar_test", Some(mcnemarTestSql))(mcnemarTest),
    Q("cliffs_delta", Some(cliffsDeltaSql))(cliffsDelta),
    Q("hhi_concentration", Some(hhiConcentrationSql))(hhiConcentration),
    Q("diversity_simpson", Some(diversitySimpsonSql))(diversitySimpson),
    Q("markov_stationary", Some(markovStationarySql))(markovStationary),
    Q("hits_transitions", Some(hitsTransitionsSql))(hitsTransitions),
    Q("link_prediction_ra", Some(linkPredictionRaSql), bench = true)(linkPredictionRa),
    Q("survival_hazard", Some(survivalHazardSql))(survivalHazard),
    Q("ks_test", Some(ksTestSql))(ksTest),
    Q("qq_decile_compare", Some(qqDecileCompareSql))(qqDecileCompare),
    Q("mann_whitney_u", Some(mannWhitneyUSql))(mannWhitneyU),
    Q("ab_test_welch", Some(abTestWelchSql))(abTestWelch),
    Q("cohens_d", Some(cohensDSql))(cohensD),
    Q("poisson_rate_test", Some(poissonRateTestSql))(poissonRateTest),
    Q("benford_digits", Some(benfordDigitsSql))(benfordDigits),
    Q("conversion_wilson_ci", Some(conversionWilsonCiSql))(conversionWilsonCi),
    Q("return_rate_brand_ci", Some(returnRateBrandCiSql))(returnRateBrandCi),
    Q("seasonality_dow", Some(seasonalityDowSql))(seasonalityDow),
    Q("acf_daily", Some(acfDailySql))(acfDaily),
    Q("pacf_daily", Some(pacfDailySql))(pacfDaily),
    Q("gini_revenue", Some(giniRevenueSql))(giniRevenue),
    Q("cusum_changepoint", Some(cusumChangepointSql))(cusumChangepoint),
    Q("spearman_rho", Some(spearmanRhoSql))(spearmanRho),
    Q("kendall_tau", Some(kendallTauSql))(kendallTau),
    Q("mann_kendall_trend", Some(mannKendallTrendSql))(mannKendallTrend),
    Q("theil_sen_slope", Some(theilSenSlopeSql))(theilSenSlope),
    Q("pareto_coverage", Some(paretoCoverageSql))(paretoCoverage),
    Q("seasonality_strength_dow",
      Some(seasonalityStrengthDowSql))(seasonalityStrengthDow),
    Q("xcorr_daily_lags", Some(xcorrDailyLagsSql))(xcorrDailyLags),
    Q("forecast_seasonal_naive",
      Some(forecastSeasonalNaiveSql))(forecastSeasonalNaive),
    Q("bootstrap_means", Some(bootstrapMeansSql))(bootstrapMeans),
    Q("bootstrap_medians", Some(bootstrapMediansSql))(bootstrapMedians),
    Q("odds_ratio_funnel", Some(oddsRatioFunnelSql))(oddsRatioFunnel),
    Q("seasonal_mann_kendall",
      Some(seasonalMannKendallSql))(seasonalMannKendall),
    Q("ljung_box", Some(ljungBoxSql))(ljungBox),
    Q("grubbs_max_day", Some(grubbsMaxDaySql))(grubbsMaxDay),
    Q("seasonal_decompose_dow",
      Some(seasonalDecomposeDowSql))(seasonalDecomposeDow),
    Q("cochran_armitage_trend",
      Some(cochranArmitageTrendSql))(cochranArmitageTrend),
    Q("jonckheere_terpstra",
      Some(jonckheereTerpstraSql))(jonckheereTerpstra))
}
