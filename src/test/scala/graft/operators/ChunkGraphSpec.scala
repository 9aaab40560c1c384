package graft.operators

import graft.SharedSpark
import graft.functions.Text.toks
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the chunking layer and the graph/LM operators beyond
  * the DuckDB hash gate: reconstruction properties, conservation laws,
  * and the PageRank fixed-point identities that must hold at any scale.
  */
class ChunkGraphSpec extends AnyFunSuite {
  import SharedSpark._

  test("chunk_documents: coverage, stride starts, and size bounds") {
    val out = Chunking.chunkDocuments(spark, sf).collect()
    assert(out.nonEmpty)
    val nDocs = Tables.documents(spark, sf)
      .filter(size(toks(col("text"))) >= 1).count()
    assert(out.map(_.getLong(0)).distinct.length === nDocs)
    out.foreach { r =>
      val nTok = r.getLong(3)
      assert(nTok >= 1 && nTok <= Chunking.ChunkSize)
      // chunk text really holds n_tok tokens
      assert(r.getString(2).split(" ").length === nTok)
    }
    // chunk_ids per doc are 0..k with no holes (stride grid is dense)
    out.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(rs.indices))
    }
  }

  test("non-overlapping chunks reassemble the exact tokenized document") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), array_join(toks(col("text")), " ").as("norm"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rebuilt = Chunking.chunkDedupExact(spark, sf) // just to touch it
    assert(rebuilt.columns.sameElements(
      Seq("doc_id", "chunk_id", "h", "n_dups")))
    val seg = Chunking.stripBoilerplate(spark, sf).collect()
    // with no verbatim cross-doc chunk repetition the strip is identity;
    // where boilerplate WAS found, kept_text must be a subsequence
    seg.foreach { r =>
      val (id, kept) = (r.getLong(0), r.getString(3))
      if (r.getLong(1) === r.getLong(2)) assert(kept === docs(id))
      else {
        // partial strip: kept tokens are a sub-multiset of the doc's
        val dc = docs(id).split(" ").groupBy(identity).view.mapValues(_.length)
        kept.split(" ").filter(_.nonEmpty).groupBy(identity).foreach {
          case (t, o) => assert(dc.getOrElse(t, 0) >= o.length)
        }
      }
    }
    // conservation: kept chunks never exceed total chunks
    seg.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("chunk_dedup_exact: canonical row per hash, dup mass conserved") {
    val out = Chunking.chunkDedupExact(spark, sf).collect()
    val totalChunks = Chunking.chunkDocuments(spark, sf).count()
    assert(out.map(_.getString(2)).distinct.length === out.length)
    assert(out.map(_.getLong(3)).sum <= totalChunks) // strides differ (24 vs 32)
    out.foreach(r => assert(r.getLong(3) >= 1))
  }

  test("quality_unigram_lm: commonness bounded by corpus extremes, exact mean") {
    val out = TextAnalysis.qualityUnigramLm(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, fs, c) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(c === fs.toDouble / n.toDouble)
      assert(fs >= n) // every token occurs at least once corpus-wide
    }
    // total token mass: sum over docs of n_tok equals corpus token count
    val corpusToks = Tables.documents(spark, sf)
      .select(size(toks(col("text"))).cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(out.map(_.getLong(1)).sum === corpusToks)
  }

  test("pagerank_skills: probability mass conserved, hubs outrank leaves") {
    val out = Graph.pagerankSkills(spark, sf).collect()
    assert(out.nonEmpty)
    // fixed-point mass: sum of ranks ~= SCALE (integer floor loses at
    // most a few units per node per iteration)
    val mass = out.map(_.getLong(2)).sum
    val slack = out.length.toLong * (Graph.Iters + 1) * 100
    assert(mass <= Graph.Scale && mass >= Graph.Scale - slack,
      s"rank mass $mass vs scale ${Graph.Scale}")
    // ranks are positive and the ordering is total (sorted desc)
    assert(out.forall(_.getLong(2) > 0))
    assert(out.map(_.getLong(2)).sameElements(
      out.map(_.getLong(2)).sortBy(-_)))
  }

  test("embedding_centroids: one row per (label, dim), exact mean, mass check") {
    val out = Similarity.embeddingCentroids(spark, sf).collect()
    assert(out.nonEmpty)
    val dims = out.map(_.getInt(1)).distinct.sorted
    assert(dims.head === 1 && dims.last === 64 && dims.length === 64)
    out.foreach { r =>
      assert(r.getDouble(4) === r.getLong(2).toDouble / r.getLong(3).toDouble)
    }
    // every label contributes its full vector count to every position
    out.groupBy(_.getInt(0)).values.foreach { rs =>
      assert(rs.map(_.getLong(3)).distinct.length === 1)
    }
  }

  test("pagerank_weighted: mass conserved, ranks positive, weights are incident sums") {
    val out = Graph.pagerankWeighted(spark, sf).collect()
    assert(out.nonEmpty)
    val mass = out.map(_.getLong(2)).sum
    val slack = out.length.toLong * (Graph.Iters + 1) * 100
    assert(mass <= Graph.Scale && mass >= Graph.Scale - slack,
      s"rank mass $mass vs scale ${Graph.Scale}")
    assert(out.forall(_.getLong(2) > 0))
    // weight column = total incident co-occurrence mass per skill
    val pairs = TextAnalysis.skillCooccurrence(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val incident = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    pairs.foreach { case (a, b, n) => incident(a) += n; incident(b) += n }
    out.foreach(r => assert(r.getLong(1) === incident(r.getString(0))))
  }

  test("triangle_count equals naive enumeration over the collected edge set") {
    val out = Graph.triangleCount(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val edges = TextAnalysis.skillCooccurrence(spark, sf)
      .select("skill_a", "skill_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // naive: for every edge pair sharing the canonical middle vertex,
    // check the closing edge (tiny graph — this is the definition)
    val naive = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((a, b) <- edges; (b2, c) <- edges if b2 == b && edges((a, c)))
      Seq(a, b, c).foreach(v => naive(v) += 1)
    assert(out === naive.toMap)
    assert(out.nonEmpty, "synthetic corpus should close at least one skill triangle")
  }

  test("clustering coefficient equals naive tri/wedge over the collected edges") {
    val out = Graph.clusteringCoefficient(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // cooc pairs are id-canonical, not string-canonical: membership
    // checks must accept either orientation
    val edges = TextAnalysis.skillCooccurrence(spark, sf)
      .select("skill_a", "skill_b").collect()
      .flatMap(r => Seq((r.getString(0), r.getString(1)),
        (r.getString(1), r.getString(0)))).toSet
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(out.keySet === nbrs.keySet)
    nbrs.foreach { case (v, ns) =>
      val (deg, tri, wedges, cc) = out(v)
      assert(deg === ns.size.toLong)
      val naiveTri = ns.toSeq.sorted.combinations(2).count {
        case Seq(x, y) => edges((x, y))
      }
      assert(tri === naiveTri.toLong, s"node $v")
      assert(wedges === deg * (deg - 1) / 2)
      if (deg > 1) assert(cc === naiveTri.toDouble / wedges.toDouble)
      else assert(cc === 0.0)
    }
  }

  test("jaccard neighbors: naive cross-check, non-edges only, J in (0,1]") {
    val out = Graph.jaccardNeighbors(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out.nonEmpty)
    // both orientations: the non-edge claim must hold regardless of
    // the id-canonical storage order (the round-6 anti-join fix)
    val edges = TextAnalysis.skillCooccurrence(spark, sf)
      .select("skill_a", "skill_b").collect()
      .flatMap(r => Seq((r.getString(0), r.getString(1)),
        (r.getString(1), r.getString(0)))).toSet
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    out.foreach { case ((x, y), (cn, dx, dy, j)) =>
      assert(x < y)
      assert(!edges((x, y)), s"($x,$y) is an existing edge")
      val inter = (nbrs(x) & nbrs(y)).size.toLong
      assert(cn === inter)
      assert(dx === nbrs(x).size.toLong && dy === nbrs(y).size.toLong)
      assert(j === inter.toDouble / (dx + dy - inter).toDouble)
      assert(j > 0.0 && j <= 1.0)
    }
    // completeness: every wedge-connected non-edge appears
    val expected = for {
      x <- nbrs.keySet; y <- nbrs.keySet
      if x < y && !edges((x, y)) && (nbrs(x) & nbrs(y)).nonEmpty
    } yield (x, y)
    assert(out.keySet === expected)
  }

  test("label_propagation separates dense blobs a bridge edge would merge in CC") {
    import spark.implicits._
    // two 5-cliques joined by one bridge (a1-b1): connected components
    // would report ONE component; LPA must find the two communities
    def clique(p: String) = for {
      i <- 1 to 5; j <- 1 to 5 if i != j
    } yield (s"$p$i", s"$p$j")
    val bridge = Seq(("a1", "b1"), ("b1", "a1"))
    val e = (clique("a") ++ clique("b") ++ bridge).toDF("src", "dst")
    val out = Graph.lpaSweeps(e).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.size === 10)
    val aLbls = (1 to 5).map(i => out(s"a$i")).toSet
    val bLbls = (1 to 5).map(i => out(s"b$i")).toSet
    assert(aLbls.size === 1, s"blob A not converged: $out")
    assert(bLbls.size === 1, s"blob B not converged: $out")
    assert(aLbls != bLbls, s"bridge edge merged the communities: $out")
  }

  test("graph_modularity: exact numerators on two triangles + bridge") {
    import spark.implicits._
    // the textbook modularity example: two triangles joined by one
    // bridge edge -> two communities, each with L_c=3 intra edges and
    // D_c=7 degree mass; m=7, so each contributes 4*7*3 - 49 = 35 and
    // Q = 70/196 = 5/14. Locks the numerator arithmetic and that the
    // bridge edge lands in neither community's intra count.
    val e = Seq(
      ("A", "B"), ("A", "C"), ("B", "C"),
      ("D", "E"), ("D", "F"), ("E", "F"),
      ("C", "D")).toDF("skill_a", "skill_b")
    val out = Graph.modularityOf(e).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length === 2, s"expected two communities: ${out.toSeq}")
    out.foreach { case (members, intra, degSum, contrib) =>
      assert(members === 3L)
      assert(intra === 3L)
      assert(degSum === 7L)
      assert(contrib === 35L)
    }
  }

  test("keyword_rake: exact degree/freq scores on a constructed corpus") {
    import spark.implicits._
    // doc1 phrases: [deep learning][deep model][model]; doc2: [deep][learning]
    val docs = Seq(
      (1L, "deep learning a deep model the model"),
      (2L, "deep a learning")).toDF("doc_id", "text")
    val out = TextAnalysis.keywordRakeOn(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    // deep: freq 3, degree 2+2+1=5; learning: 2, 2+1=3; model: 2, 2+1=3
    assert(out.toMap === Map(
      "deep" -> ((3L, 5L, 1666666L)),
      "learning" -> ((2L, 3L, 1500000L)),
      "model" -> ((2L, 3L, 1500000L))))
    // ranking: score desc, then word asc on the tie
    assert(out.map(_._1).toSeq === Seq("deep", "learning", "model"))
  }

  test("vocab_encode_docs: ids by (count desc, token) and ordered re-encoding") {
    import spark.implicits._
    val docs = Seq((1L, "b a b c"), (2L, "c b")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabEncodeDocsOn(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // counts: b=3, c=2, a=1 -> ids b=1, c=2, a=3
    assert(out === Map(
      1L -> ((4L, "1 3 1 2")),
      2L -> ((2L, "2 1"))))
  }

  test("graph_bfs_hops: exact hop counts on a constructed path + branch") {
    import spark.implicits._
    // path n0-n1-n2-n3-n4-n5 with a shortcut n0-n3 and a branch n2-m:
    // proves multi-hop relaxation AND that the min wins over the longer
    // route (n3 is 1 hop via the shortcut, not 3), beyond what the
    // near-clique testdata vocab (diameter ~2) can exercise; n5 sits at
    // depth 3 via the shortcut, inside the BfsIters=4 horizon
    val undirected = Seq(
      "n0" -> "n1", "n1" -> "n2", "n2" -> "n3", "n3" -> "n4",
      "n4" -> "n5", "n0" -> "n3", "n2" -> "m")
    val e = (undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    val seed = Seq(("n0", 0L)).toDF("skill", "dist")
    val out = Graph.bfsCore(e, seed).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map(
      "n0" -> 0L, "n1" -> 1L, "n2" -> 2L, "n3" -> 1L,
      "n4" -> 2L, "n5" -> 3L, "m" -> 3L))
  }

  test("graph_bfs_hops: nodes beyond the horizon are absent, not sentinel") {
    import spark.implicits._
    // a 6-long chain: n5 and n6 are 5 and 6 hops out — past BfsIters=4
    val chain = (0 until 6).map(i => s"n$i" -> s"n${i + 1}")
    val e = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val seed = Seq(("n0", 0L)).toDF("skill", "dist")
    val out = Graph.bfsCore(e, seed).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set("n0", "n1", "n2", "n3", "n4"))
    assert(out("n4") === 4L)
  }

  test("minLabelComponents equals union-find: long path, triangle, edgeless seed") {
    import spark.implicits._
    // a 6-node path whose least label travels five hops (several
    // rounds), a separate triangle, and a seed vertex with no edge —
    // EntityRes's unmatched name, which keeps its own label
    val pairs = Seq("p5" -> "p4", "p4" -> "p3", "p3" -> "p2", "p2" -> "p1",
      "p1" -> "p0", "t1" -> "t2", "t2" -> "t3", "t3" -> "t1")
    val seeds = (pairs.flatMap { case (a, b) => Seq(a, b) } :+ "solo").distinct
    // sequential union-find; the lesser root wins, so a set's root is
    // its least member — the component label the loop converges to
    val parent = scala.collection.mutable.Map(seeds.map(v => v -> v): _*)
    def find(v: String): String =
      if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val ref = seeds.map(v => v -> find(v)).toMap
    val edges = Graph.bothWays(pairs.toDF("a", "b"))
    val out = Graph.minLabelComponents(edges, seeds.toDF("v")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === ref)
    assert(out("p5") === "p0" && out("t2") === "t1" && out("solo") === "solo")
  }

  test("harmonic centrality: exact LCM-lattice sums on a path graph") {
    import spark.implicits._
    // path a-b-c-d: C_H(a) = 1/1 + 1/2 + 1/3 = 22/12; interior
    // b: 1 + 1 + 1/2 = 30/12 — ends score lower than the middle
    val undirected = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    val e = (undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    val out = Graph.harmonicFrom(e).collect()
      .map(r => r.getAs[String]("skill") ->
        ((r.getAs[Long]("n_reached"), r.getAs[Long]("harm_num"),
          r.getAs[Double]("harmonic")))).toMap
    assert(out("a") === ((3L, 22L, 22.0 / 12.0)))
    assert(out("d") === ((3L, 22L, 22.0 / 12.0)))
    assert(out("b") === ((3L, 30L, 30.0 / 12.0)))
    assert(out("c") === ((3L, 30L, 30.0 / 12.0)))
    // disconnected pair: unreachable nodes contribute 0, no sentinel
    val e2 = Seq("a" -> "b", "b" -> "a", "x" -> "y", "y" -> "x")
      .toDF("src", "dst")
    val out2 = Graph.harmonicFrom(e2).collect()
      .map(r => r.getAs[String]("skill") -> r.getAs[Long]("n_reached"))
      .toMap
    assert(out2.values.toSet === Set(1L))
    // corpus scale: every node reaches at least one neighbor
    val real = Graph.harmonicCentrality(spark, sf).collect()
    assert(real.nonEmpty)
    real.foreach(r => assert(r.getAs[Long]("n_reached") >= 1L &&
      r.getAs[Long]("harm_num") >= Graph.HarmScale / Graph.BfsIters))
  }

  test("label_propagation: every node labeled, labels are node names, deterministic") {
    val out = Graph.labelPropagation(spark, sf).collect()
    assert(out.nonEmpty)
    val nodes = TextAnalysis.skillCooccurrence(spark, sf)
      .select(explode(array(col("skill_a"), col("skill_b"))).as("s"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(out.map(_.getLong(1)).sum === nodes.size)
    out.foreach(r => assert(nodes.contains(r.getString(0))))
    val again = Graph.labelPropagation(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("pagerank is invariant under input repartitioning") {
    val a = Graph.pagerankSkills(spark, sf).collect().map(_.toSeq)
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val b = Graph.pagerankSkills(spark, sf).collect().map(_.toSeq)
      assert(a.toSeq === b.toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "32")
  }
}
