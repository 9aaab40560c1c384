package graft.operators

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the skill co-occurrence graph — the "which
  * skills are structurally central" layer above raw pair counts
  * (reference surfaces only the counts; centrality is the standard
  * next question a labor-market dashboard asks). Nodes are skills,
  * undirected edges are "extracted from the same document"
  * ([[TextAnalysis.skillCooccurrence]] pairs, both directions).
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic end to end: ranks
  * are BIGINTs scaled by 10^12, every step is integer multiply /
  * integer divide / integer sum — exact, associative, and therefore
  * bit-identical across engines and partitionings (a double-valued
  * PageRank could not be oracle-gated: cross-engine SUM(double) order
  * differs). Three Jacobi iterations unrolled — at corpus scale each
  * iteration is one shuffle of (dst, contribution) pairs, the classic
  * Pregel super-step shape; the node set, degree table, and rank
  * vector are all |skills|-sized (tiny next to the corpus), so the
  * plan's only big input is the extraction chain itself.
  *
  * Headroom: contributions sum to <= SCALE per node-neighborhood and
  * 85 * SUM stays far under 2^63 for any |V| <= 10^6; a larger node
  * universe drops SCALE to 10^9 (documented, config-free here because
  * the property is structural, not tuned).
  */
object Graph {

  /** Rank fixed-point scale (1.0 == 10^12). */
  val Scale = 1000000000000L

  /** Unrolled power-iteration count. */
  val Iters = 3

  /** The skill co-occurrence graph's undirected edge list: one
    * `(skill_a, skill_b)` row per co-occurring skill pair
    * ([[TextAnalysis.skillCoocPairs]], lower skill id first).
    * Checkpointed: a compact post-aggregate frame that every graph key
    * reads more than once (both [[bothWays]] legs, the triangle sides),
    * so the corpus extraction chain runs once.
    */
  private[operators] def skillEdges(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.skillCoocPairs(s, dir)
      .select(col("skill_a"), col("skill_b"))
      .localCheckpoint()

  /** Directed `(src, dst, ...)` edges of an undirected pair frame whose
    * first two columns are the endpoints: every pair once as a→b and
    * once as b→a, any further columns carried on both. No checkpoint of
    * its own: it is a projection and a union over the caller's frame.
    */
  private[operators] def bothWays(pairs: DataFrame): DataFrame = {
    val cs = pairs.columns.toSeq.map(col)
    val (a, b, rest) = (cs(0), cs(1), cs.drop(2))
    pairs.select(a.as("src") +: b.as("dst") +: rest: _*)
      .union(pairs.select(b.as("src") +: a.as("dst") +: rest: _*))
  }

  /** Connected components by min-label propagation to convergence:
    * every vertex of `seeds` (column `v`) starts labeled by itself;
    * each round pushes labels along the directed `(src, dst)` `edges`
    * (both directions present for an undirected graph), keeps each
    * vertex's minimum label, and stops once a `count` of changed labels
    * reads 0 — rounds = the largest component diameter. Returns one
    * `(v, l)` row per vertex, `l` the least vertex of its component;
    * a seed with no edge keeps its own label. Checkpoints: the seed
    * labels and every round's labels are `localCheckpoint(true)`, which
    * keeps the lineage one round deep; `edges` is read every round, so
    * the caller checkpoints it.
    */
  private[operators] def minLabelComponents(edges: DataFrame,
      seeds: DataFrame): DataFrame = {
    var labels = seeds.select(col("v"), col("v").as("l"))
      .localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      val prop = edges.join(labels, edges("src") === labels("v"))
        .select(col("dst").as("v"), col("l"))
      val next = labels.union(prop)
        .groupBy("v").agg(min(col("l")).as("l"))
        .localCheckpoint(true)
      changed = next.join(labels.withColumnRenamed("l", "l0"), "v")
        .filter(col("l") =!= col("l0")).count()
      labels = next
    }
    labels
  }

  /** r' = (15% * SCALE/|V|) + 85% * sum_in(r_u div deg_u), all in
    * integer arithmetic; damping 0.85 as the exact rational 85/100.
    *
    * Sweep shape (round 16, guide §2.4/§3.1 — the [[harmonicFrom]]
    * precedent, VERDICT r15 item 4): the old form paid one (dst)
    * groupBy exchange plus a stat-less sort-merge join per iteration
    * (the checkpointed cooc carries no size statistics, so the planner
    * never auto-broadcast the vocabulary-bounded frames). Now the edge
    * list is union-ed and hash-partitioned by `dst` ONCE, in-plan, so
    * every iteration's `groupBy(dst)` rides that single exchange
    * (identical copies collapse via ReusedExchange at runtime);
    * the RANK VECTOR — |skills|-sized, the same "broadcast singles"
    * class as [[Inference.linkPredictionRa]]'s deg — is the broadcast
    * side of each sweep's join, and `deg`/`nv` derive exchange-free
    * from the dst partitioning (both edge directions are present, so
    * in-degree == out-degree). Data path: one corpus pass, one pair
    * exchange, one vocab-sized seed exchange — iterations add only
    * vocab-sized broadcast builds. Sums are exact BIGINTs over the
    * same per-dst multisets, so results are bit-identical.
    */
  def pagerankSkills(s: SparkSession, dir: String): DataFrame = {
    // the dst repartition stays IN-PLAN (no checkpoint): localCheckpoint
    // drops outputPartitioning under AQE (probed r16), while an in-plan
    // exchange is visible to EnsureRequirements, so every sweep's
    // groupBy(dst) rides it and identical copies collapse via
    // ReusedExchange at runtime — the harmonicFrom discipline
    val e = bothWays(skillEdges(s, dir)).repartition(col("dst"))
    val deg = e.groupBy(col("dst").as("skill"))
      .agg(count(lit(1)).as("deg"))
    val nV = deg.agg(count(lit(1)).as("nv"))
    val dn = deg.crossJoin(broadcast(nV))
    // every node sits in at least one edge (edges define the node set),
    // so inner joins below lose nothing and need no null branch
    var r = dn.select(col("skill"), col("deg"), col("nv"),
      expr(s"${Scale}L div nv").as("r"))
    for (_ <- 1 to Iters) {
      val contrib = e.join(broadcast(r), e("src") === r("skill"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("cs"))
      r = contrib.join(broadcast(dn), col("dst") === col("skill"))
        .select(col("skill"), col("deg"), col("nv"),
          expr(s"((15 * (${Scale}L div nv)) div 100) + ((85 * cs) div 100)")
            .as("r"))
    }
    r.select(col("skill"), col("deg"), col("r").as("rank"))
      .orderBy(col("rank").desc, col("skill"))
  }

  val pagerankSkillsSql: String = {
    def iter(prev: String, k: Int): String =
      s"""r$k AS (SELECT d.skill, d.deg, d.nv,
               ((15 * ($Scale // d.nv)) // 100)
                 + ((85 * CAST(SUM(p.r // p.deg) AS BIGINT)) // 100) AS r
             FROM e JOIN $prev p ON e.src = p.skill
                    JOIN dn d ON e.dst = d.skill
             GROUP BY d.skill, d.deg, d.nv)"""
    s"""WITH cooc AS (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e AS (SELECT skill_a AS src, skill_b AS dst FROM cooc
             UNION ALL
             SELECT skill_b AS src, skill_a AS dst FROM cooc),
       deg AS (SELECT src AS skill, CAST(COUNT(*) AS BIGINT) AS deg
               FROM e GROUP BY 1),
       dn AS (SELECT skill, deg, (SELECT CAST(COUNT(*) AS BIGINT) FROM deg)
                AS nv FROM deg),
       r0 AS (SELECT skill, deg, nv, $Scale // nv AS r FROM dn),
       ${(1 to Iters).map(k => iter(s"r${k - 1}", k)).mkString(",\n       ")}
       SELECT skill, deg, r AS rank FROM r$Iters
       ORDER BY rank DESC, skill"""
  }

  /** Edge-WEIGHTED PageRank — rank flows proportionally to
    * co-occurrence strength (contribution = r * w_uv div W_u, where
    * W_u is u's total incident weight) instead of splitting evenly
    * across neighbors. Same fixed-point BIGINT discipline as
    * [[pagerankSkills]] so it stays oracle-gateable: r <= SCALE
    * (10^12) and per-edge weights bounded by corpus pair counts keep
    * r*w far under 2^63 for any realistic corpus (w < 10^6
    * documented headroom). Per iteration: one shuffle of (dst,
    * contribution) pairs — the Pregel super-step — over graph-sized
    * frames. (round 4)
    */
  def pagerankWeighted(s: SparkSession, dir: String): DataFrame = {
    // same sweep shape as [[pagerankSkills]] (round 16): dst-partitioned
    // in-plan edge list, broadcast rank vector, exchange-free
    // wsum/nv off the dst partitioning (both directions present, so
    // incident-weight sums keyed by dst equal the old src-keyed ones)
    val cooc = TextAnalysis.skillCoocPairs(s, dir)
      .select(col("skill_a"), col("skill_b"), col("n"))
      .localCheckpoint()
    val e = bothWays(cooc).repartition(col("dst"))
    val wsum = e.groupBy(col("dst").as("skill"))
      .agg(sum(col("n")).as("w"))
    val nV = wsum.agg(count(lit(1)).as("nv"))
    val dn = wsum.crossJoin(broadcast(nV))
    var r = dn.select(col("skill"), col("w"), col("nv"),
      expr(s"${Scale}L div nv").as("r"))
    for (_ <- 1 to Iters) {
      val contrib = e.join(broadcast(r), e("src") === r("skill"))
        .select(col("dst"), expr("(r * n) div w").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("cs"))
      r = contrib.join(broadcast(dn), col("dst") === col("skill"))
        .select(col("skill"), col("w"), col("nv"),
          expr(s"((15 * (${Scale}L div nv)) div 100) + ((85 * cs) div 100)")
            .as("r"))
    }
    r.select(col("skill"), col("w").as("weight"), col("r").as("rank"))
      .orderBy(col("rank").desc, col("skill"))
  }

  val pagerankWeightedSql: String = {
    def iter(prev: String, k: Int): String =
      s"""r$k AS (SELECT d.skill, d.w, d.nv,
               ((15 * ($Scale // d.nv)) // 100)
                 + ((85 * CAST(SUM((p.r * e.n) // p.w) AS BIGINT)) // 100) AS r
             FROM e JOIN $prev p ON e.src = p.skill
                    JOIN dn d ON e.dst = d.skill
             GROUP BY d.skill, d.w, d.nv)"""
    s"""WITH cooc AS (SELECT skill_a, skill_b, n
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e AS (SELECT skill_a AS src, skill_b AS dst, n FROM cooc
             UNION ALL
             SELECT skill_b AS src, skill_a AS dst, n FROM cooc),
       ws AS (SELECT src AS skill, CAST(SUM(n) AS BIGINT) AS w
              FROM e GROUP BY 1),
       dn AS (SELECT skill, w, (SELECT CAST(COUNT(*) AS BIGINT) FROM ws)
                AS nv FROM ws),
       r0 AS (SELECT skill, w, nv, $Scale // nv AS r FROM dn),
       ${(1 to Iters).map(k => iter(s"r${k - 1}", k)).mkString(",\n       ")}
       SELECT skill, w AS weight, r AS rank FROM r$Iters
       ORDER BY rank DESC, skill"""
  }

  /** Per-skill triangle participation — the clustering-structure
    * metric next to [[pagerankSkills]]' centrality: how many closed
    * skill triples each skill sits in. Edges come canonically ordered
    * (lower skill_id first) from the co-occurrence extraction, so every
    * triangle {x,y,z} materializes exactly once as e1=(x,y) ⋈ e2=(y,z)
    * ⋈ e3=(x,z) — the standard ordered-wedge-closing join, which does
    * |wedges| work instead of the naive 3! enumeration. All three join
    * inputs are the |E|-sized edge list (graph-sized, broadcastable —
    * the corpus appears only in the extraction chain, checkpointed
    * once); at web-graph scale the same plan degree-orders edges first
    * so wedge counts stay near-linear. (round 4)
    */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val cooc = skillEdges(s, dir)
    val tri = cooc.as("e1")
      .join(cooc.as("e2"), col("e1.skill_b") === col("e2.skill_a"))
      .join(cooc.as("e3"),
        col("e3.skill_a") === col("e1.skill_a") &&
          col("e3.skill_b") === col("e2.skill_b"))
      .select(col("e1.skill_a").as("a"), col("e1.skill_b").as("b"),
        col("e2.skill_b").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("skill"))
      .groupBy("skill")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("skill"))
  }

  val triangleCountSql: String =
    s"""WITH e AS (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       tri AS (SELECT e1.skill_a AS a, e1.skill_b AS b, e2.skill_b AS c
               FROM e e1
               JOIN e e2 ON e1.skill_b = e2.skill_a
               JOIN e e3 ON e3.skill_a = e1.skill_a
                        AND e3.skill_b = e2.skill_b),
       x AS (SELECT a AS skill FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri)
       SELECT skill, COUNT(*) AS n_triangles
       FROM x GROUP BY skill ORDER BY n_triangles DESC, skill"""

  /** Synchronous label-propagation sweeps (Raghavan et al. 2007's LPA
    * made deterministic): see [[labelPropagation]].
    */
  val LpaIters = 3

  /** Community detection by synchronous label propagation — the
    * clustering layer next to PageRank's centrality: every node starts
    * labeled by itself; each sweep relabels every node with its
    * neighbors' MOST FREQUENT label, ties broken by lexicographic
    * minimum. The tie rule is what makes the classic
    * randomized-asynchronous LPA deterministic and therefore
    * oracle-gateable — same unrolled-iteration discipline as
    * [[pagerankSkills]]. Per sweep: one (edge x label) equi-join, one
    * (node, label) count agg, one per-node rank window — all
    * graph-sized frames (the corpus appears only in the extraction
    * chain, checkpointed once). Sweeps are a fixed [[LpaIters]], not
    * run-to-convergence: a data-dependent iteration count would make
    * the oracle's shape depend on the data (and synchronous LPA can
    * 2-cycle on bipartite structures, so fixed sweeps is also the
    * standard stabilization). (round 4)
    */
  /** The LPA core over a directed edge frame (src, dst) — both
    * directions must be present for an undirected graph. Returns one
    * (skill, lbl) row per node. Shared by the registered query and the
    * constructed-graph specs (the testdata vocab is a 19-node
    * near-clique, so the oracle exercises the mechanics while the
    * specs prove the semantics: LPA separates dense blobs that
    * connected components would merge across a bridge edge).
    */
  private[operators] def lpaSweeps(e: DataFrame): DataFrame = {
    var lbl = e.select(col("src").as("skill")).distinct()
      .select(col("skill"), col("skill").as("lbl"))
    for (_ <- 1 to LpaIters) {
      val counts = e.join(lbl, e("dst") === lbl("skill"))
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("c").desc, col("lbl"))
      lbl = counts
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("skill"), col("lbl"))
    }
    lbl
  }

  def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    val e = bothWays(skillEdges(s, dir))
    // members is a comma-joined STRING, not array<string>: the oracle
    // harness sorts result frames through pandas, which cannot hash
    // array cells — no registered query may emit ArrayType/MapType
    // (RegistrySpec locks this).
    lpaSweeps(e)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(col("skill"))), ",").as("members"))
      .orderBy(col("n_members").desc, col("community"))
  }

  val labelPropagationSql: String = {
    def sweep(prev: String, k: Int): String =
      s"""l$k AS (SELECT src AS skill, lbl FROM (
               SELECT e.src, l.lbl,
                      ROW_NUMBER() OVER (PARTITION BY e.src
                        ORDER BY COUNT(*) DESC, l.lbl) AS rn
               FROM e JOIN $prev l ON e.dst = l.skill
               GROUP BY e.src, l.lbl)
             WHERE rn = 1)"""
    s"""WITH cooc AS (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e AS (SELECT skill_a AS src, skill_b AS dst FROM cooc
             UNION ALL
             SELECT skill_b AS src, skill_a AS dst FROM cooc),
       l0 AS (SELECT DISTINCT src AS skill, src AS lbl FROM e),
       ${(1 to LpaIters).map(k => sweep(s"l${k - 1}", k)).mkString(",\n       ")}
       SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
              array_to_string(list_sort(list(skill)), ',') AS members
       FROM l$LpaIters GROUP BY lbl
       ORDER BY n_members DESC, community"""
  }

  /** Bounded BFS depth — covers any diameter the near-clique testdata
    * vocab can produce; a larger graph raises it (each extra hop is one
    * more super-step, cost linear in |frontier edges|).
    */
  val BfsIters = 4

  /** The BFS core over a directed edge frame: min-hop distance from
    * `seed` (a 1-row (skill, dist=0) frame), unrolled [[BfsIters]]
    * sweeps. Each sweep: relax one hop (reached ⋈ edges), union with
    * the current distances, keep the per-node MIN — the synchronous
    * Bellman-Ford step specialized to unit weights. d appears twice
    * per sweep (union of itself and its relaxation), so WITHOUT a
    * checkpoint the lineage doubles each iteration — localCheckpoint
    * per super-step keeps the plan linear, the Pregel discipline
    * ([[pagerankSkills]] needs none because r enters its sweep once).
    * Unreached nodes are absent (no sentinel distances). Shared by the
    * registered query and the constructed-path spec that proves
    * multi-hop semantics beyond the near-clique testdata.
    */
  private[operators] def bfsCore(e: DataFrame, seed: DataFrame): DataFrame = {
    var d = seed.localCheckpoint()
    for (_ <- 1 to BfsIters) {
      val relaxed = d.join(e, d("skill") === e("src"))
        .select(col("dst").as("skill"), (col("dist") + lit(1L)).as("dist"))
      d = d.union(relaxed)
        .groupBy("skill")
        .agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    d
  }

  /** Single-source shortest hops over the skill graph — the
    * reachability layer next to PageRank's centrality and LPA's
    * communities ("how far is every skill from X in co-occurrence
    * space"). Seed = the lexicographically first skill (deterministic,
    * data-independent choice). All-integer output, same unrolled-sweep
    * oracle discipline as [[pagerankSkills]]: the DuckDB twin unrolls
    * the identical [[BfsIters]] min-distance relaxations, so parity is
    * exact with no convergence ambiguity. (round 5)
    */
  def bfsHops(s: SparkSession, dir: String): DataFrame = {
    val e = bothWays(skillEdges(s, dir))
    val seed = e.agg(min(col("src")).as("skill"))
      .select(col("skill"), lit(0L).as("dist"))
    bfsCore(e, seed).orderBy(col("dist"), col("skill"))
  }

  val bfsHopsSql: String = {
    def sweep(prev: String, k: Int): String =
      s"""d$k AS (SELECT skill, CAST(MIN(dist) AS BIGINT) AS dist FROM (
               SELECT skill, dist FROM $prev
               UNION ALL
               SELECT e.dst AS skill, p.dist + 1 AS dist
               FROM $prev p JOIN e ON e.src = p.skill)
             GROUP BY skill)"""
    s"""WITH cooc AS (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e AS (SELECT skill_a AS src, skill_b AS dst FROM cooc
             UNION ALL
             SELECT skill_b AS src, skill_a AS dst FROM cooc),
       d0 AS (SELECT MIN(src) AS skill, CAST(0 AS BIGINT) AS dist FROM e),
       ${(1 to BfsIters).map(k => sweep(s"d${k - 1}", k)).mkString(",\n       ")}
       SELECT skill, dist FROM d$BfsIters ORDER BY dist, skill"""
  }

  /** Exact reciprocal scale for [[harmonicCentrality]]: LCM(1..4), so
    * 1/dist contributions (dist ≤ [[BfsIters]]) are the integers
    * 12, 6, 4, 3 and the centrality sum is exact until one division. */
  val HarmScale = 12L

  /** Harmonic centrality of every skill within [[BfsIters]] hops —
    * the closeness-family centrality that handles DISCONNECTED graphs
    * (unreachable nodes contribute 0, not ∞, so no component hack):
    * C_H(u) = Σ_{v≠u reachable} 1/d(u, v). ALL-SOURCE bounded BFS:
    * the [[bfsCore]] relaxation keyed by (root, node) — every node
    * seeds itself at distance 0, [[BfsIters]] synchronous min-distance
    * sweeps with the same per-super-step localCheckpoint lineage
    * discipline. Reciprocals ride the exact [[HarmScale]] lattice
    * (12 div d), so per-node sums are exact BIGINTs and the engines
    * cannot drift by summation order; one double division at the
    * surface. Scale: the distance frame is ≤ nodes×nodes — the skill
    * graph is VOCABULARY-cardinality, so like [[triangleCount]] this
    * is bounded by vocab², never by corpus size; each sweep is one
    * frontier-edge equi-join. (round 7)
    */
  def harmonicCentrality(s: SparkSession, dir: String): DataFrame =
    harmonicFrom(bothWays(skillEdges(s, dir)))

  /** Core over any directed (src, dst) edge frame (spec hand-checks
    * a constructed path graph).
    *
    * Sweep shape (round 15, guide §2.4/§3.1 — was union + groupBy +
    * localCheckpoint per sweep, i.e. one shuffle and one eager
    * checkpoint job per super-step over a VOCABULARY-sized frame):
    * each sweep is now one relaxation join against the broadcast edge
    * list AUGMENTED WITH ZERO-WEIGHT SELF-LOOPS — the textbook
    * min-plus matrix step, d_k(root, v) = min_u(d_{k-1}(root, u) +
    * w(u, v)) with w(v, v) = 0 — so a discovered distance survives via
    * its self-loop and the union disappears. d enters each sweep
    * exactly ONCE, so the lineage stays linear and needs no per-sweep
    * checkpoint; and because d is hash-partitioned by `root` once up
    * front, every per-sweep groupBy(root, skill) (and the final
    * groupBy(root)) is satisfied by the existing partitioning — all
    * [[BfsIters]] sweeps fuse into a single exchange-free stage
    * (plans/r15/harmonic_centrality_*.txt: 2 shuffles total, down
    * from 2 + one per sweep). The broadcast is the edge list itself —
    * vocabulary-bounded, the same "broadcast singles" class as the
    * degree tables ([[linkPredictionRa]]'s deg). Distances are exact
    * integers; min is order-insensitive, so results are bit-identical.
    */
  private[graft] def harmonicFrom(e: DataFrame): DataFrame = {
    val eSelf = e.select(col("src"), col("dst"), lit(1L).as("w"))
      .union(e.select(col("src"), col("src").as("dst"), lit(0L).as("w"))
        .distinct())
    // repartition BELOW the distinct: hash-partitioning by root is a
    // subset of the distinct's (root, skill) grouping keys, so the
    // dedup rides the same exchange — one shuffle seeds the frame
    // with exactly the partitioning every later sweep needs
    var d = e.select(col("src").as("root"), col("src").as("skill"))
      .repartition(col("root"))
      .distinct().withColumn("dist", lit(0L))
    for (_ <- 1 to BfsIters) {
      d = d.join(broadcast(eSelf), d("skill") === eSelf("src"))
        .groupBy(col("root"), col("dst"))
        .agg(min(col("dist") + col("w")).as("dist"))
        .select(col("root"), col("dst").as("skill"), col("dist"))
    }
    d.filter(col("dist") > 0)
      .groupBy(col("root").as("skill"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr(s"$HarmScale div dist")).as("harm_num"))
      .select(col("skill"), col("n_reached"), col("harm_num"),
        (col("harm_num").cast("double") / HarmScale.toDouble)
          .as("harmonic"))
      .orderBy("skill")
  }

  val harmonicCentralitySql: String = {
    def sweep(prev: String, k: Int): String =
      s"""d$k AS (SELECT root, skill, CAST(MIN(dist) AS BIGINT) AS dist
             FROM (
               SELECT root, skill, dist FROM $prev
               UNION ALL
               SELECT p.root, e.dst AS skill, p.dist + 1 AS dist
               FROM $prev p JOIN e ON e.src = p.skill)
             GROUP BY 1, 2)"""
    s"""WITH cooc AS (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e AS (SELECT skill_a AS src, skill_b AS dst FROM cooc
             UNION ALL
             SELECT skill_b AS src, skill_a AS dst FROM cooc),
       d0 AS (SELECT DISTINCT src AS root, src AS skill,
                     CAST(0 AS BIGINT) AS dist FROM e),
       ${(1 to BfsIters).map(k => sweep(s"d${k - 1}", k)).mkString(",\n       ")}
       SELECT root AS skill, CAST(COUNT(*) AS BIGINT) AS n_reached,
              CAST(SUM($HarmScale // dist) AS BIGINT) AS harm_num,
              CAST(SUM($HarmScale // dist) AS DOUBLE) / $HarmScale.0
                AS harmonic
       FROM d$BfsIters WHERE dist > 0
       GROUP BY root ORDER BY skill"""
  }

  /** Newman modularity of the [[labelPropagation]] partition over the
    * skill co-occurrence graph — the standard "did community detection
    * find real structure" audit. Per community c:
    * `Q_c = L_c/m - (D_c/2m)^2` where L_c counts intra-community edges,
    * D_c sums member degrees, m counts all edges. Emitted as the exact
    * integer numerator `contrib_num = 4*m*L_c - D_c^2` over the common
    * denominator 4m² — no division, no doubles, hash-portable; sum of
    * contrib_num over rows / 4m² is the graph's modularity. BIGINT is
    * exact up to ~1.5e9 edges (4m² fits 128-bit only beyond that — at
    * which point switch the two products to DECIMAL(38,0)).
    *
    * Shape at scale: degrees and labels are node-cardinality frames
    * (broadcast onto the edge list), intra-edge counting is two
    * equi-joins on the edge frame's own keys, and the final
    * community agg is community-cardinality. The single product join
    * is the sanctioned 1-row scalar (m) broadcast.
    */
  def graphModularity(s: SparkSession, dir: String): DataFrame =
    modularityOf(skillEdges(s, dir))

  /** [[graphModularity]] over a caller-supplied undirected edge frame
    * (skill_a, skill_b), one row per edge — the constructed-graph spec
    * hook. The frame is read four times; a caller whose frame is
    * expensive to recompute checkpoints it ([[skillEdges]] is).
    */
  def modularityOf(cooc: DataFrame): DataFrame = {
    val e = bothWays(cooc)
    val lbl = lpaSweeps(e).localCheckpoint()
    val deg = e.groupBy(col("src").as("skill")).agg(count(lit(1)).as("deg"))
    val mem = lbl.join(deg, "skill")
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), sum(col("deg")).as("degree_sum"))
    val la = lbl.select(col("skill").as("skill_a"), col("lbl").as("ca"))
    val lb = lbl.select(col("skill").as("skill_b"), col("lbl").as("cb"))
    val intra = cooc
      .join(broadcast(la), "skill_a")
      .join(broadcast(lb), "skill_b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val m = cooc.agg(count(lit(1)).as("m"))
    mem.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_members"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (lit(4L) * col("m") * coalesce(col("intra_edges"), lit(0L))
          - col("degree_sum") * col("degree_sum")).as("contrib_num"))
      .orderBy(col("n_members").desc, col("community"))
  }

  val graphModularitySql: String = {
    def sweep(prev: String, k: Int): String =
      s"""l$k AS (SELECT src AS skill, lbl FROM (
               SELECT e.src, l.lbl,
                      ROW_NUMBER() OVER (PARTITION BY e.src
                        ORDER BY COUNT(*) DESC, l.lbl) AS rn
               FROM e JOIN $prev l ON e.dst = l.skill
               GROUP BY e.src, l.lbl)
             WHERE rn = 1)"""
    s"""WITH cooc AS (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e AS (SELECT skill_a AS src, skill_b AS dst FROM cooc
             UNION ALL
             SELECT skill_b AS src, skill_a AS dst FROM cooc),
       l0 AS (SELECT DISTINCT src AS skill, src AS lbl FROM e),
       ${(1 to LpaIters).map(k => sweep(s"l${k - 1}", k)).mkString(",\n       ")},
       lbl AS (SELECT skill, lbl FROM l$LpaIters),
       deg AS (SELECT src AS skill, CAST(COUNT(*) AS BIGINT) AS deg
               FROM e GROUP BY 1),
       mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM cooc),
       mem AS (SELECT l.lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
                 CAST(SUM(d.deg) AS BIGINT) AS degree_sum
               FROM lbl l JOIN deg d USING (skill) GROUP BY 1),
       intra AS (SELECT la.lbl AS community, CAST(COUNT(*) AS BIGINT) AS intra_edges
                 FROM cooc c
                 JOIN lbl la ON c.skill_a = la.skill
                 JOIN lbl lb ON c.skill_b = lb.skill
                 WHERE la.lbl = lb.lbl GROUP BY 1)
       SELECT mem.community, mem.n_members,
              CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
              mem.degree_sum,
              CAST(4 * mt.m * COALESCE(i.intra_edges, 0)
                - mem.degree_sum * mem.degree_sum AS BIGINT) AS contrib_num
       FROM mem LEFT JOIN intra i ON mem.community = i.community, mt
       ORDER BY mem.n_members DESC, mem.community"""
  }

  /** Core order for [[kcoreMembership]]. */
  val KCoreK = 2

  /** Peel-sweep bound — each sweep removes every node currently under
    * degree k, so the bound is the longest peel CHAIN, not the node
    * count (a bare path of length 2S peels from both ends in S
    * sweeps). The near-clique testdata graph settles in 1-2; a larger
    * corpus raises it like [[BfsIters]], cost linear in surviving
    * edges per sweep.
    */
  val KCoreSweeps = 6

  /** k-core decomposition (membership at k = [[KCoreK]]): repeatedly
    * peel nodes of degree < k until the subgraph stabilizes — the
    * standard "dense cohesive core" extraction (Seidman 1983) a skill
    * graph uses to separate the established stack from peripheral
    * one-off terms. Each sweep is one degree aggregate + two
    * semi-joins over the surviving edge list (the Pregel super-step
    * shape, localCheckpoint as the iteration barrier); counts exact,
    * no floats anywhere.
    */
  def kcoreMembership(s: SparkSession, dir: String): DataFrame =
    kcoreFromPairs(skillEdges(s, dir))

  /** Core over any undirected edge list (skill_a, skill_b), a < b. */
  def kcoreFromPairs(cooc: DataFrame): DataFrame = {
    var e = bothWays(cooc)
    for (_ <- 1 to KCoreSweeps) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KCoreK)
        .select(col("src").as("node"))
      e = e.join(keep, e("src") === keep("node"), "left_semi")
        .join(keep, e("dst") === keep("node"), "left_semi")
        .localCheckpoint()
    }
    e.groupBy(col("src").as("skill"))
      .agg(count(lit(1)).as("core_deg"))
      .orderBy("skill")
  }

  val kcoreMembershipSql: String = {
    // MATERIALIZED: each sweep references its predecessor three times
    // (degree filter + two endpoint joins); DuckDB inlines plain CTEs,
    // which would copy the whole chain 3^sweeps times
    def sweep(prev: String, i: Int): String =
      s"""k$i AS MATERIALIZED (SELECT src FROM (SELECT src, COUNT(*) AS deg
                   FROM $prev GROUP BY 1) WHERE deg >= $KCoreK),
       e$i AS MATERIALIZED (SELECT e.src, e.dst FROM $prev e
               JOIN k$i a ON e.src = a.src
               JOIN k$i b ON e.dst = b.src)"""
    s"""WITH cooc AS MATERIALIZED (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e0 AS MATERIALIZED (SELECT skill_a AS src, skill_b AS dst FROM cooc
              UNION ALL
              SELECT skill_b AS src, skill_a AS dst FROM cooc),
       ${(1 to KCoreSweeps).map(i => sweep(s"e${i - 1}", i)).mkString(",\n       ")}
       SELECT src AS skill, CAST(COUNT(*) AS BIGINT) AS core_deg
       FROM e$KCoreSweeps GROUP BY 1 ORDER BY 1"""
  }

  /** Degree assortativity (Newman 2002, PRL 89.208701): Pearson
    * correlation of the degrees at either end of every edge — do
    * well-connected skills co-occur with other hubs (assortative,
    * r > 0, the social-network signature) or with peripheral ones
    * (disassortative, r < 0, the technological-network signature)?
    * The one-number structural summary next to [[triangleCount]]'s
    * local clustering and [[graphModularity]]'s partition quality.
    *
    * Undirected treatment: each edge contributes both (deg u, deg v)
    * and (deg v, deg u) — the standard symmetrization, which also
    * makes the x/y moments equal by construction. Degrees are exact
    * BIGINTs; all six moments accumulate as exact integer sums (deg <=
    * |V|, products far under 2^63 for any graph whose edge list fits a
    * cluster), so r is the [[Stats.corrExact]] one-sqrt double tree on
    * exact inputs — bit-portable; a REGULAR graph (zero degree
    * variance — the sf0.1 vocab clique) reports NULL, the honest
    * undefined. Scale: degree table is node-sized (broadcast onto the
    * edge list); one edge-frame agg. (round 6)
    */
  def degreeAssortativity(s: SparkSession, dir: String): DataFrame = {
    val e = bothWays(skillEdges(s, dir))
    val deg = e.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    val pairs = e
      .join(broadcast(deg.select(col("n").as("src"), col("d").as("dx"))), "src")
      .join(broadcast(deg.select(col("n").as("dst"), col("d").as("dy"))), "dst")
    // every moment rides DECIMAL(38,0) (DuckDB: HUGEINT) so no graph
    // size overflows the exact path — the mann_whitney discipline
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val m = pairs.agg(count(lit(1)).as("n"),
      sum(dec(col("dx"))).as("sx"), sum(dec(col("dy"))).as("sy"),
      sum(dec(col("dx")) * col("dy")).as("sxy"),
      sum(dec(col("dx")) * col("dx")).as("sxx"),
      sum(dec(col("dy")) * col("dy")).as("syy"))
    // a REGULAR graph (every degree equal — the sf0.1 vocab is a
    // clique) has zero degree variance and assortativity is undefined:
    // report NULL, never 0/0 (ANSI division would throw)
    val varx = (dec(col("n")) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val vary = (dec(col("n")) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    val cov = (dec(col("n")) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    m.select(col("n").as("n_directed_edges"),
      when(varx === 0.0 || vary === 0.0, lit(null).cast("double"))
        .otherwise(cov / sqrt(varx * vary)).as("assortativity"))
  }

  val degreeAssortativitySql: String =
    s"""WITH cooc AS MATERIALIZED (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e AS (SELECT skill_a AS src, skill_b AS dst FROM cooc
             UNION ALL
             SELECT skill_b AS src, skill_a AS dst FROM cooc),
       deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS d
               FROM e GROUP BY 1),
       p AS (SELECT a.d AS dx, b.d AS dy
             FROM e JOIN deg a ON e.src = a.n JOIN deg b ON e.dst = b.n),
       m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    SUM(CAST(dx AS HUGEINT)) AS sx,
                    SUM(CAST(dy AS HUGEINT)) AS sy,
                    SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
                    SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
                    SUM(CAST(dy AS HUGEINT) * dy) AS syy
             FROM p),
       v AS (SELECT n,
                    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS cv,
                    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS vx,
                    CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS vy
             FROM m)
       SELECT n AS n_directed_edges,
              CASE WHEN vx = 0 OR vy = 0 THEN NULL
                   ELSE cv / sqrt(vx * vy) END AS assortativity
       FROM v"""

  /** Local clustering coefficient per node — "how clique-like is each
    * skill's neighborhood" (the transitivity layer next to
    * [[triangleCount]]'s raw counts: a hub with many triangles can
    * still be loosely knit if its degree is huge). cc_u =
    * triangles(u) / C(deg_u, 2): the triangle list is the same
    * three-way edge equi-join as triangle_count (each triangle once,
    * a < b < c), wedge capacity deg(deg−1)/2 is exact BIGINT, cc is
    * one double division (deg-1 nodes emit 0 by convention, never a
    * divide-by-zero). Scale: wedge-join bounded by Σ deg² — the
    * triangle_count shape; node frames are graph-sized. (round 6)
    */
  def clusteringCoefficient(s: SparkSession, dir: String): DataFrame = {
    val cooc = skillEdges(s, dir) // feeds the degree table AND three tri sides
    val e = bothWays(cooc)
    val deg = e.groupBy(col("src").as("skill")).agg(count(lit(1)).as("deg"))
    val tri = cooc.as("e1")
      .join(cooc.as("e2"), col("e1.skill_b") === col("e2.skill_a"))
      .join(cooc.as("e3"),
        col("e3.skill_a") === col("e1.skill_a") &&
          col("e3.skill_b") === col("e2.skill_b"))
      .select(explode(array(col("e1.skill_a"), col("e1.skill_b"),
        col("e2.skill_b"))).as("skill"))
      .groupBy("skill").agg(count(lit(1)).as("n_triangles"))
    deg.join(tri, Seq("skill"), "left")
      .select(col("skill"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("(deg * (deg - 1)) div 2").as("wedges"))
      .withColumn("cc",
        when(col("deg") > 1,
          col("n_triangles").cast("double") / col("wedges").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy(col("cc").desc, col("skill"))
  }

  val clusteringCoefficientSql: String =
    s"""WITH cooc AS (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e AS (SELECT skill_a AS src, skill_b AS dst FROM cooc
             UNION ALL
             SELECT skill_b AS src, skill_a AS dst FROM cooc),
       deg AS (SELECT src AS skill, CAST(COUNT(*) AS BIGINT) AS deg
               FROM e GROUP BY 1),
       tri AS (SELECT skill, CAST(COUNT(*) AS BIGINT) AS n_triangles
               FROM (SELECT unnest([e1.skill_a, e1.skill_b, e2.skill_b])
                              AS skill
                     FROM cooc e1
                     JOIN cooc e2 ON e1.skill_b = e2.skill_a
                     JOIN cooc e3 ON e3.skill_a = e1.skill_a
                              AND e3.skill_b = e2.skill_b)
               GROUP BY 1)
       SELECT d.skill, d.deg,
              CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
              (d.deg * (d.deg - 1)) // 2 AS wedges,
              CASE WHEN d.deg > 1 THEN
                     CAST(COALESCE(t.n_triangles, 0) AS DOUBLE)
                       / CAST((d.deg * (d.deg - 1)) // 2 AS DOUBLE)
                   ELSE 0.0 END AS cc
       FROM deg d LEFT JOIN tri t ON d.skill = t.skill
       ORDER BY cc DESC, d.skill"""

  /** Link prediction by neighborhood JACCARD — the size-normalized
    * sibling of [[graft.operators.Inference.linkPredictionRa]] (RA
    * rewards rare shared neighbors; Jaccard rewards neighborhoods
    * that mostly coincide, so hub-heavy pairs stop dominating). For
    * every wedge-connected NON-edge (x, y): J = |N(x) ∩ N(y)| /
    * (deg_x + deg_y − |N(x) ∩ N(y)|), common neighbors from the
    * wedge equi-join, the anti-join drops existing edges, both degree
    * lookups broadcast. Everything is exact BIGINT until the one
    * division. Scale: Σ deg²-bounded wedge join over graph-sized
    * frames — the corpus appears only in the checkpointed extraction
    * chain. (round 6)
    */
  def jaccardNeighbors(s: SparkSession, dir: String): DataFrame = {
    val cooc = skillEdges(s, dir)
    val e = bothWays(cooc)
    val deg = e.groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
    val wedges = e.as("l").join(e.as("r"), col("l.dst") === col("r.src"))
      .filter(col("l.src") < col("r.dst"))
      .select(col("l.src").as("x"), col("r.dst").as("y"))
    // cooc pairs are canonical by skill ID while wedges order by the
    // skill STRING — normalize the edge list to string order so the
    // anti-join removes an existing edge in either orientation
    val eStr = cooc.select(
      least(col("skill_a"), col("skill_b")).as("sa"),
      greatest(col("skill_a"), col("skill_b")).as("sb"))
    wedges
      .join(eStr, wedges("x") === eStr("sa")
        && wedges("y") === eStr("sb"), "left_anti")
      .groupBy("x", "y")
      .agg(count(lit(1)).as("common_neighbors"))
      .join(broadcast(deg.select(col("z").as("x"), col("deg").as("deg_x"))),
        Seq("x"))
      .join(broadcast(deg.select(col("z").as("y"), col("deg").as("deg_y"))),
        Seq("y"))
      .select(col("x").as("skill_a"), col("y").as("skill_b"),
        col("common_neighbors"), col("deg_x"), col("deg_y"),
        (col("common_neighbors").cast("double")
          / (col("deg_x") + col("deg_y") - col("common_neighbors"))
            .cast("double")).as("jaccard"))
      .orderBy(col("jaccard").desc, col("skill_a"), col("skill_b"))
  }

  val jaccardNeighborsSql: String =
    s"""WITH cooc AS (SELECT skill_a, skill_b
             FROM (${TextAnalysis.skillCooccurrenceSql})),
       e AS (SELECT skill_a AS src, skill_b AS dst FROM cooc
             UNION ALL
             SELECT skill_b AS src, skill_a AS dst FROM cooc),
       deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS deg
               FROM e GROUP BY 1),
       cn AS (SELECT l.src AS x, r.dst AS y,
                     CAST(COUNT(*) AS BIGINT) AS common_neighbors
              FROM e l JOIN e r ON l.dst = r.src
              WHERE l.src < r.dst
                AND NOT EXISTS (SELECT 1 FROM cooc c
                                WHERE least(c.skill_a, c.skill_b) = l.src
                                  AND greatest(c.skill_a, c.skill_b) = r.dst)
              GROUP BY 1, 2)
       SELECT cn.x AS skill_a, cn.y AS skill_b, cn.common_neighbors,
              dx.deg AS deg_x, dy.deg AS deg_y,
              CAST(cn.common_neighbors AS DOUBLE)
                / CAST(dx.deg + dy.deg - cn.common_neighbors AS DOUBLE)
                AS jaccard
       FROM cn JOIN deg dx ON cn.x = dx.z
               JOIN deg dy ON cn.y = dy.z
       ORDER BY jaccard DESC, skill_a, skill_b"""

  /** Weakly-connected components of the skill graph — the structural
    * partition under every other key here ("is this one job market or
    * several disconnected ones"; [[labelPropagation]] finds dense
    * communities WITHIN a component — this finds the components):
    * min-label propagation to convergence ([[minLabelComponents]],
    * shared with [[Dedup.dedupClusters]], on the vocab graph — each sweep
    * one |E| equi-join + a min-agg, state |V|-bounded, localCheckpoint
    * per sweep cuts lineage), component labeled by its
    * lexicographically-least skill, size attached by one broadcast
    * self-aggregate. Sweep count is the component diameter — bounded
    * by the vocab graph's size, never the corpus. (round 9)
    */
  def graphComponents(s: SparkSession, dir: String): DataFrame = {
    val edges = bothWays(skillEdges(s, dir)).localCheckpoint(true)
    val labels = minLabelComponents(edges,
      edges.select(col("src").as("v")).distinct())
    val sizes = labels.groupBy("l").agg(count(lit(1)).as("comp_size"))
    labels.join(broadcast(sizes), Seq("l"))
      .select(col("v").as("skill"), col("l").as("component_id"),
        col("comp_size"))
      .orderBy("skill")
  }

  val graphComponentsSql: String =
    s"""WITH RECURSIVE cooc AS (
         SELECT skill_a, skill_b
         FROM (${TextAnalysis.skillCooccurrenceSql})),
       verts AS (SELECT skill_a AS v FROM cooc
                 UNION SELECT skill_b FROM cooc),
       edges AS (SELECT skill_a AS a, skill_b AS b FROM cooc
                 UNION SELECT skill_b, skill_a FROM cooc),
       reach(v, l) AS (
         SELECT v, v FROM verts
         UNION
         SELECT e.b, r.l FROM reach r JOIN edges e ON r.v = e.a),
       comp AS (SELECT v, min(l) AS component_id FROM reach GROUP BY v),
       sz AS (SELECT component_id, CAST(COUNT(*) AS BIGINT) AS comp_size
              FROM comp GROUP BY 1)
       SELECT c.v AS skill, c.component_id, s.comp_size
       FROM comp c JOIN sz s ON c.component_id = s.component_id
       ORDER BY skill"""

  def queries: Seq[Q] = Seq(
    Q("clustering_coefficient",
      Some(clusteringCoefficientSql))(clusteringCoefficient),
    Q("graph_jaccard_neighbors",
      Some(jaccardNeighborsSql))(jaccardNeighbors),
    Q("graph_degree_assortativity",
      Some(degreeAssortativitySql))(degreeAssortativity),
    Q("kcore_membership", Some(kcoreMembershipSql))(kcoreMembership),
    Q("pagerank_skills", Some(pagerankSkillsSql))(pagerankSkills),
    Q("pagerank_weighted", Some(pagerankWeightedSql))(pagerankWeighted),
    Q("label_propagation", Some(labelPropagationSql))(labelPropagation),
    Q("graph_modularity", Some(graphModularitySql))(graphModularity),
    Q("graph_bfs_hops", Some(bfsHopsSql))(bfsHops),
    Q("harmonic_centrality", Some(harmonicCentralitySql), bench = true)(
      harmonicCentrality),
    Q("triangle_count", Some(triangleCountSql))(triangleCount),
    Q("graph_components", Some(graphComponentsSql))(graphComponents))
}
