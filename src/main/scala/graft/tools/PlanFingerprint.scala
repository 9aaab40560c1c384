package graft.tools

import org.apache.spark.sql.DataFrame

/** Canonicalized plan-shape fingerprints for the frozen bench
  * headliners — the machine check behind three rounds of "bench drift
  * is host contention, not a plan change" adjudications (VERDICT r9
  * #6): if a headliner's physical plan SHAPE changes, the hash changes
  * and the gate fails loudly; if only the wall clock moves, the hash
  * proves the plan did not.
  *
  * Canonical form: the pre-AQE physical operator tree rendered as
  * nodeName(child,...) — expression ids, file paths, sizes and stats
  * are all absent by construction, so the hash is stable across hosts
  * and testdata locations but sensitive to any operator insertion,
  * removal, reorder, or join-strategy flip. Plans are fingerprinted
  * PER SCALE FACTOR (size-based join planning can legitimately differ
  * across SFs); the committed file records one line per
  * (sf-label, query): `sf0.001 q1_agg <md5>`.
  *
  * Regenerate after an INTENTIONAL plan change with:
  * `sbt "runMain graft.tools.PlanFingerprint"` (rewrites the resource
  * file in-place; review the diff like any other plan review).
  *
  * With registered key names as arguments
  * (`sbt "runMain graft.tools.PlanFingerprint dedup_clusters ..."`) it
  * prints `<sf> <key> <md5>` for those keys at every scale present —
  * the unpinned correctness scale sf0.01 included — and leaves the pin
  * file untouched: run it on a refactor's parent and on the change,
  * then diff the two outputs to show no plan moved.
  */
object PlanFingerprint {

  /** The repo root (nearest ancestor of CWD holding build.sbt), so the
    * pin resolves regardless of the launch directory — a CWD-relative
    * path silently loaded an EMPTY pin when run from elsewhere, and an
    * empty pin is indistinguishable from a no-drift result. */
  private[tools] def root: java.io.File = repoRoot
  private def repoRoot: java.io.File = {
    var d = new java.io.File(".").getCanonicalFile
    while (d != null && !new java.io.File(d, "build.sbt").exists())
      d = d.getParentFile
    if (d == null) new java.io.File(".").getCanonicalFile else d
  }

  def pinFile: java.io.File =
    new java.io.File(repoRoot, "src/test/resources/plan_fingerprints.txt")

  /** The scale factors whose plans are pinned, restricted to the data
    * present on this checkout (the gate-scale dirs are generated by
    * tools/sf1_gate.sh and gitignored, so they participate only when
    * they exist; regeneration carries absent labels forward). The f32
    * labels are the PRIMARY exponent curve since r13 — without them the
    * curve's legs ran with `plan_drift: null`, i.e. the static shape
    * detector was absent exactly where the curve is primary
    * (VERDICT r14 item 2). */
  def Sfs: Seq[(String, String)] = {
    def repo(rel: String) =
      new java.io.File(repoRoot, rel).getAbsolutePath
    Seq(
      "sf0.001" -> "/root/testdata/sf0.001",
      "sf0.1" -> "/root/testdata/sf0.1",
      "sf1.0" -> repo("testdata/sf1.0"),
      "sf3.0" -> repo("testdata/sf3.0"),
      "sf0.1f32" -> repo("testdata/sf0.1f32"),
      "sf1.0f32" -> repo("testdata/sf1.0f32"),
      "sf3.0f32" -> repo("testdata/sf3.0f32"))
      .filter { case (_, d) => new java.io.File(d).exists() }
  }

  /** [[Sfs]] plus the unpinned correctness scale sf0.01, which sits
    * beside sf0.001 and sf0.1, for the named-keys mode. */
  private def namedSfs: Seq[(String, String)] =
    (Sfs.take(1).map { case (_, d) =>
      "sf0.01" -> java.nio.file.Paths.get(d).resolveSibling("sf0.01").toString
    } ++ Sfs).filter { case (_, d) => new java.io.File(d).exists() }

  def shape(df: DataFrame): String = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: org.apache.spark.sql.execution.SparkPlan): String = p match {
      // Round-robin exchanges are LAYOUT decisions, not semantics:
      // Tables.fanOut inserts one only when the scan's split count is
      // below defaultParallelism, which differs between a 4-core test
      // session and a 32-core pin-regeneration session and flips when a
      // testdata file crosses a maxPartitionBytes boundary. A hash that
      // included them would be environment-dependent — exactly what the
      // pin's 'stable across hosts' contract forbids — so they are
      // transparent here (their CHILD still participates). Semantic
      // repartitions key on columns (hash/range partitioning) and stay
      // in the hash. fanOut's presence where it matters is pinned
      // separately in PlanQualitySpec (range_join_bucketed).
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] =>
        walk(e.child)
      case _ =>
        p.nodeName + (if (p.children.isEmpty) ""
                      else p.children.map(walk).mkString("(", ",", ")"))
    }
    walk(df.queryExecution.sparkPlan)
  }

  def hash(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(shape(df).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Non-headliner keys whose plan shape is pinned anyway: the
    * reference's literal Superset dashboard feeds. Pinning keeps
    * dashboard-path drift mechanical like the headliners WITHOUT
    * widening the frozen bench-30 set BASELINE's 2× gate compares
    * against (promotion was considered and rejected — VERDICT r11 #7 —
    * because the baseline total is defined over the frozen set). */
  val ExtraPinned: Set[String] = Set("skills_by_experience", "skills_by_title")

  /** Current fingerprints of every bench-flagged query (plus the
    * [[ExtraPinned]] dashboard feeds) at every pinned SF, as
    * (sfLabel, name) -> hash. */
  def current(s: org.apache.spark.sql.SparkSession)
      : Map[(String, String), String] =
    (for {
      (label, dir) <- Sfs
      q <- graft.Registry.all.filter(q => q.bench || ExtraPinned(q.name))
    } yield (label, q.name) -> hash(q.fn(s, dir))).toMap

  /** The committed fingerprints (empty if the resource is absent). */
  def committed(): Map[(String, String), String] = {
    val f = pinFile
    if (!f.exists()) Map.empty
    else scala.util.Using.resource(scala.io.Source.fromFile(f)) { src =>
      src.getLines().filter(_.nonEmpty).map { l =>
        val Array(sf, n, h) = l.split(" ")
        (sf, n) -> h
      }.toMap
    }
  }

  /** Regenerate the committed file from the current plans. Pins for SFs
    * whose data is absent on this checkout (e.g. the gitignored sf1.0)
    * are carried over from the existing file, never silently dropped.
    * Given key names, only print their fingerprints. */
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session()
    if (args.nonEmpty) {
      val qs = args.toSeq.map(graft.Registry.byName)
      for ((label, dir) <- namedSfs; q <- qs)
        println(s"$label ${q.name} ${hash(q.fn(spark, dir))}")
    } else {
      val cur = current(spark)
      val have = Sfs.map(_._1).toSet
      val kept = committed().filter { case ((sf, _), _) => !have(sf) }
      val all = kept ++ cur
      val out = all.toSeq.sortBy { case ((sf, n), _) => (sf, n) }
        .map { case ((sf, n), h) => s"$sf $n $h" }
        .mkString("", "\n", "\n")
      java.nio.file.Files.write(pinFile.toPath, out.getBytes("UTF-8"))
      println(s"wrote ${cur.size} fingerprints (+${kept.size} carried) to $pinFile")
    }
    spark.stop()
  }
}
