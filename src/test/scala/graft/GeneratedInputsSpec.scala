package graft

import graft.functions.{Keys, Text, Vectors}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Generated-input cross-checks: every native codegen'd expression must
  * agree with its compositional (functions._) twin on arbitrary inputs,
  * not just the oracle corpus. Cases are generated with fixed seeds
  * (deterministic re-runs) and batched into single DataFrames so each
  * property is one Spark job, not hundreds.
  */
class GeneratedInputsSpec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("WordShingles equals its HOF twin on generated token arrays") {
    val tokGen = Gen.listOf(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
    val cases = sample(tokGen, 150)
    assert(cases.exists(_.isEmpty) || cases.nonEmpty) // includes empties
    val df = cases.map(Tuple1(_)).toDF("toks")
    for (k <- 1 to 4) {
      val bad = df.select(
        Text.wordShingles(col("toks"), k).as("a"),
        Text.wordShinglesHof(col("toks"), k).as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(bad === 0L, s"k=$k mismatch")
    }
  }

  test("CharShingles equals its HOF twin on generated strings incl. multi-byte") {
    val strGen = Gen.frequency(
      4 -> Gen.listOf(Gen.alphaNumChar).map(_.mkString),
      1 -> Gen.const(""),
      // includes a supplementary-plane char (surrogate pair in UTF-16)
      2 -> Gen.listOf(Gen.oneOf("a", "é", "中", "𝕊", " "))
        .map(_.mkString))
    val cases = sample(strGen, 200)
    val df = cases.map(Tuple1(_)).toDF("s")
    for (n <- 1 to 5) {
      val bad = df.select(
        Text.charShingles(col("s"), n).as("a"),
        Text.charShinglesHof(col("s"), n).as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(bad === 0L, s"n=$n mismatch")
    }
  }

  test("LongDot equals the zip_with/aggregate fold on generated vectors") {
    val vecGen = for {
      n <- Gen.choose(0, 12)
      xs <- Gen.listOfN(n, Gen.choose(-1000000L, 1000000L))
    } yield xs
    val pairGen = for {
      a <- vecGen
      b <- Gen.oneOf(vecGen, Gen.const(a)) // mix equal and ragged lengths
    } yield (a, b)
    val df = sample(pairGen, 300).toDF("a", "b")
    val bad = df.select(
      Vectors.dotQ(col("a"), col("b")).as("x"),
      aggregate(zip_with(col("a"), col("b"), (p, q) => p * q),
        lit(0L), (acc, v) => acc + v).as("y"))
      .filter(not(col("x") <=> col("y"))).count()
    assert(bad === 0L)
  }

  test("HexParityBits equals the explicit ascii(substr)%2 sum on generated digests") {
    val strGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val df = sample(strGen, 200).map(Tuple1(_)).toDF("t")
      .select(md5(col("t")).as("h1"), md5(concat(lit("#:"), col("t"))).as("h2"))
    val explicitSum = (0 until 48).map { j =>
      val c = if (j < 32) substring(col("h1"), j + 1, 1)
              else substring(col("h2"), j - 31, 1)
      (ascii(c) % 2) * lit(1L << j)
    }.reduce(_ + _)
    val bad = df.select(
      call_function(plans.HexParityBits.FnName, col("h1"), col("h2")).as("x"),
      explicitSum.as("y"))
      .filter(not(col("x") <=> col("y"))).count()
    assert(bad === 0L)
  }

  test("chunkDocuments equals brute-force chunking on generated documents") {
    // generated docs stress irregular whitespace, short docs (< one
    // chunk), exact-boundary lengths, and empty/blank docs
    val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val sepGen = Gen.oneOf(" ", "  ", "\t", " \t ")
    val docGen = Gen.frequency(
      6 -> (for {
        n <- Gen.choose(1, 90)
        ws <- Gen.listOfN(n, wordGen)
        sep <- sepGen
      } yield ws.mkString(sep)),
      1 -> Gen.const(""),
      1 -> Gen.const("   "))
    val docs = sample(docGen, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "gen", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("chunkgen").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Chunking.chunkDocuments(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getLong(3)))
      .toMap
    val want = docs.flatMap { case (id, text, _, _, _) =>
      val tk = text.split("\\s+").filter(_.nonEmpty)
      (0 until tk.length by operators.Chunking.Stride).map { start =>
        val piece = tk.slice(start, start + operators.Chunking.ChunkSize)
        (id, start / operators.Chunking.Stride) ->
          (piece.mkString(" "), piece.length.toLong)
      }
    }.toMap
    assert(got === want)
  }

  test("CMS sketch: exact bounds and split-merge invariance on generated streams") {
    // random multisets of short keys; per group: estimate >= exact for
    // every key, and sketching two halves then merging equals
    // sketching the whole (associativity/commutativity of counter
    // addition — checked bit-for-bit)
    val keyGen = Gen.nonEmptyListOf(
      Gen.oneOf("a", "b", "c", "dd", "ee", "ff", "gg", "hh", "中", "𝕊"))
    val cases = sample(keyGen, 40).zipWithIndex
    val rows = cases.flatMap { case (ks, i) =>
      ks.zipWithIndex.map { case (k, j) => (s"c$i", k, j % 2) }
    }
    val df = rows.toDF("grp", "k", "half")
    val whole = df.groupBy("grp")
      .agg(expr("graft_cms_sketch(k)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val merged = df.groupBy("grp", "half")
      .agg(expr("graft_cms_sketch(k)").as("sk"))
      .groupBy("grp").agg(expr("graft_cms_merge(sk)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    cases.foreach { case (ks, i) =>
      val g = s"c$i"
      assert(java.util.Arrays.equals(whole(g), merged(g)), s"merge drift in $g")
      ks.distinct.foreach { k =>
        val exact = ks.count(_ == k).toLong
        assert(graft.plans.CmsSketch.estimate(whole(g), k) >= exact,
          s"undercount for $k in $g")
      }
    }
  }

  test("prefix-filter dedup equals naive all-pairs Jaccard on generated corpora") {
    // small shared vocabulary forces real overlaps; lengths span the
    // shingle clamp (short docs collapse to one whole-doc shingle)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val cases = sample(docGen, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = cases.toDF("doc_id", "text")
    val cfg = operators.SimilarityConfig.Default
    val out = operators.Dedup.dedupPrefixFilterOn(df, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // naive ground truth over the same shingle definition, INCLUDING
    // the clamp edge the engine has: a doc with fewer tokens than the
    // shingle width collapses to one whole-doc shingle, and an EMPTY
    // doc to the single empty shingle — so empty docs are mutual exact
    // duplicates (J = 1), which is the semantics we want (the real
    // pipeline drops empties upstream in clean_required_filter)
    def shingles(t: String): Set[String] = {
      val tk = t.split("\\s+").filter(_.nonEmpty).toVector
      if (tk.length < cfg.shingleWidth) Set(tk.mkString(" "))
      else tk.sliding(cfg.shingleWidth).map(_.mkString(" ")).toSet
    }
    val sets = cases.map { case (id, t) => id -> shingles(t) }
    val naive = (for {
      (a, sa) <- sets; (b, sb) <- sets
      if a < b
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= cfg.minhashTau
    } yield (a, b)).toSet
    assert(out === naive)
    assert(naive.nonEmpty, "generated corpus should contain near-dup pairs")
  }

  test("prefix-filter dedup stays exact for non-default taus (derived ppjoin bounds)") {
    // the round-4 form hardcoded tau = 1/2 in the prefix length and
    // both ppjoin pruning predicates; the bounds are now derived from a
    // plan-time rational, so the zero-false-negative equality must hold
    // at ANY configured threshold — including doubles that are not
    // exactly representable (0.6), where the rational is a strict lower
    // bound and the predicates are conservatively looser
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val cases = sample(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = cases.toDF("doc_id", "text")
    def shingles(t: String, w: Int): Set[String] = {
      val tk = t.split("\\s+").filter(_.nonEmpty).toVector
      if (tk.length < w) Set(tk.mkString(" "))
      else tk.sliding(w).map(_.mkString(" ")).toSet
    }
    for (tau <- Seq(0.34, 0.6, 0.75)) {
      val cfg = operators.SimilarityConfig(minhashTau = tau)
      val out = operators.Dedup.dedupPrefixFilterOn(df, cfg).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = cases.map { case (id, t) => id -> shingles(t, cfg.shingleWidth) }
      val naive = (for {
        (a, sa) <- sets; (b, sb) <- sets
        if a < b
        inter = (sa & sb).size
        if inter.toDouble / (sa.size + sb.size - inter) >= tau
      } yield (a, b)).toSet
      assert(out === naive, s"prefix filter diverged from naive at tau=$tau")
    }
  }

  test("substring-span detection and excision equal naive recomputation on generated corpora") {
    // small vocab + short spans force real cross-doc repeats; span
    // width 3 keeps the naive ground truth cheap
    val L = 3
    val vocab = Vector("a", "b", "c", "d", "e")
    val docGen = Gen.chooseNum(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val cases = sample(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = cases.toDF("doc_id", "text")

    def tokens(t: String): Vector[String] =
      t.split("\\s+").filter(_.nonEmpty).toVector
    // naive span inventory: every L-token window of docs with >= L
    // tokens (no whole-doc clamp — short docs are excluded, as the
    // operator documents)
    val allSpans = cases.flatMap { case (id, t) =>
      val tk = tokens(t)
      if (tk.length < L) Nil
      else tk.sliding(L).map(w => (id, w.mkString(" "))).toSeq
    }
    val bys = allSpans.groupBy(_._2)
    val naiveRepeated = bys.collect {
      case (sp, occ) if occ.map(_._1).distinct.size >= 2 =>
        sp -> ((occ.map(_._1).distinct.size.toLong, occ.size.toLong,
          occ.map(_._1).min))
    }

    val out = operators.Dedup.dedupSubstringSpansOn(df, L).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === naiveRepeated)
    assert(naiveRepeated.nonEmpty, "generated corpus should repeat spans")

    // naive excision: drop every token covered by any occurrence of a
    // repeated span in its own doc
    val naiveKept = cases.map { case (id, t) =>
      val tk = tokens(t)
      val starts =
        if (tk.length < L) Nil
        else (0 to tk.length - L).filter(i =>
          naiveRepeated.contains(tk.slice(i, i + L).mkString(" ")))
      val covered = starts.flatMap(i => i until i + L).toSet
      id -> ((tk.length.toLong, covered.size.toLong,
        tk.zipWithIndex.collect {
          case (w, i) if !covered(i) => w
        }.mkString(" ")))
    }.toMap
    val strip = operators.Dedup.stripRepeatedSpansOn(df, L).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(strip === naiveKept)
  }

  test("dedup_semantic collapses planted near-dup groups to their prototype") {
    // constructed corpus: 4 well-separated random base directions
    // (ids 0-3, the k-means seeds), two planted twins of base 0
    // (ids 4, 5), one twin of base 1 (id 6), one independent vector
    // (id 7). Twin noise is 1e-3 per component — cosine to the base
    // ~0.9999 (far above tau) and small enough that every sign-LSH
    // plane dot keeps its sign, so twins share their base's bucket.
    val rnd = new scala.util.Random(7L)
    def base(): Array[Float] =
      Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    def twin(b: Array[Float]): Array[Float] =
      b.map(x => x + ((rnd.nextDouble() * 2 - 1) * 0.001).toFloat)
    val b0 = base(); val b1 = base(); val b2 = base(); val b3 = base()
    val rows = Seq(
      0L -> b0, 1L -> b1, 2L -> b2, 3L -> b3,
      4L -> twin(b0), 5L -> twin(b0), 6L -> twin(b1), 7L -> base())
    val df = rows.toDF("vec_id", "embedding")
    val cfg = operators.SimilarityConfig(ivfK = 4, ivfIters = 1,
      ivfProbe = 1)
    val out = operators.Similarity.dedupSemanticOn(df, cfg).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2),
        r.getBoolean(3))).toMap
    assert(out.size === 8, "one verdict row per vector")
    // each planted dup group collapses to exactly one survivor — the
    // member closest to its centroid (ties cannot occur here)
    for (group <- Seq(Seq(0L, 4L, 5L), Seq(1L, 6L))) {
      val kept = group.filter(out(_)._3)
      assert(kept.size === 1, s"group $group kept $kept")
      val best = group.maxBy(id => out(id)._2)
      assert(kept.head === best,
        s"group $group kept ${kept.head}, expected prototype $best")
      // the group really did land in one cluster (the blocking worked)
      assert(group.map(out(_)._1).distinct.size === 1)
    }
    // vectors with no near-dup above tau are untouched
    for (id <- Seq(2L, 3L, 7L)) assert(out(id)._3, s"$id wrongly dropped")
  }

  test("salting spreads a generated hot key across reducers; AQE splits the skewed join") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // generated skewed corpus: one hot key owns 50k of 60k rows — the
    // double-digit-share pathology Skew.saltedJoin documents
    val big = spark.range(60000L).select(
      when(col("id") < 50000L, 0L).otherwise(pmod(col("id"), lit(100)) + 1L)
        .as("key"),
      col("id").as("row_id"))
    val small = spark.range(101L).select(col("id").as("key"),
      concat(lit("dim_"), col("id")).as("label"))

    // per-task shuffle-read records via a listener (max = the fullest
    // reducer — the task a 1000-executor cluster waits on)
    val maxRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val r = m.shuffleReadMetrics.recordsRead
          maxRead.getAndUpdate(cur => math.max(cur, r))
        }
      }
    }
    def measuredMax(action: => Long): Long = {
      maxRead.set(0L)
      action
      org.apache.spark.GraftTestHooks.flushListeners(spark.sparkContext)
      maxRead.get()
    }

    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    val prevB = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevShuf = conf.get("spark.sql.shuffle.partitions")
    spark.sparkContext.addSparkListener(listener)
    try {
      // force the shuffle join and freeze AQE so the measurement sees
      // the raw routing, not an adaptive rescue; 32 reducers (the
      // shared test session runs fewer, which caps how far ANY spread
      // can beat the hot task)
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.shuffle.partitions", "32")
      val plainCount = big.join(small, "key").count()
      val maxPlain = measuredMax(big.join(small, "key").count())
      val maxSalted = measuredMax(
        graft.functions.Skew.saltedJoin(big, small, "key", "row_id", 32).count())
      // same answer...
      assert(graft.functions.Skew.saltedJoin(big, small, "key", "row_id", 32)
        .count() === plainCount)
      // ...but the hot key's 50k rows fan over 32 salt groups instead
      // of one reducer: the fullest salted task reads < 1/4 of the
      // plain hot task (expected ~1/32; 1/4 leaves headroom for several
      // salt groups hash-colliding onto one of the 32 reducers)
      assert(maxPlain >= 50000L,
        s"plain join should funnel the hot key through one task, max=$maxPlain")
      assert(maxSalted * 4 < maxPlain,
        s"salting did not spread the hot key: salted max=$maxSalted plain max=$maxPlain")

      // and AQE's reactive skew split fires on the same plain join when
      // enabled with thresholds scaled to the local corpus
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      try {
        // execute THIS QueryExecution (count() would plan a separate
        // one and leave this adaptive plan un-finalized)
        val qe = big.join(small, "key").queryExecution
        qe.executedPlan.execute().count()
        val p = qe.executedPlan.toString
        assert(p.contains("skew=true"),
          s"AQE skew split did not fire:\n${p.take(2000)}")
      } finally {
        conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        conf.unset("spark.sql.adaptive.skewJoin.enabled")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      conf.set("spark.sql.shuffle.partitions", prevShuf)
    }
  }

  test("denseIds equals sorted rank per generated case") {
    // many generated cases ride ONE frame: case id is the group column,
    // so each case gets its own independent 1-based numbering
    val caseGen = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)).map(_.distinct)
    val cases = sample(caseGen, 40).zipWithIndex
    val rows = cases.flatMap { case (vs, i) => vs.map(v => (s"c$i", v)) }
    val out = Keys.denseIds(rows.toDF("case_id", "v"),
      Seq("case_id"), Seq("v"), "id", buckets = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    cases.foreach { case (vs, i) =>
      vs.sorted.zipWithIndex.foreach { case (v, rank) =>
        assert(out((s"c$i", v)) === rank + 1, s"case c$i value $v")
      }
    }
  }
  test("distributed BPE equals a sequential reference on generated corpora") {
    import graft.operators.TextAnalysis
    // plain sequential Sennrich BPE: the greedy left-to-right scan the
    // islands-parity windows claim to reproduce
    def applyMerge(syms: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    def refBpe(words: Map[String, Long], k: Int)
        : (List[(String, String, Long)], Map[String, List[String]]) = {
      var segs = words.keys.map(w =>
        w -> w.map(_.toString).toList).toMap
      val merges = scala.collection.mutable.ListBuffer
        .empty[(String, String, Long)]
      for (_ <- 1 to k) {
        val counts = scala.collection.mutable.Map
          .empty[(String, String), Long].withDefaultValue(0L)
        for ((w, syms) <- segs; p <- syms.zip(syms.tail))
          counts(p) += words(w)
        if (counts.nonEmpty) {
          val ((bl, br), bc) = counts.toSeq
            .sortBy { case ((l, r), c) => (-c, l, r) }.head
          merges += ((bl, br, bc))
          segs = segs.map { case (w, syms) =>
            w -> applyMerge(syms, bl, br) }
        }
      }
      (merges.toList, segs)
    }

    val wordGen = for {
      n <- Gen.choose(1, 8)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield cs.mkString
    val corpusGen = for {
      m <- Gen.choose(1, 6)
      ws <- Gen.listOfN(m, wordGen)
      cnts <- Gen.listOfN(m, Gen.choose(1L, 3L))
    } yield ws.zip(cnts).toMap // map dedups words; counts arbitrary

    // each corpus's Spark jobs are a few tiny stages, so the suite time
    // is scheduling latency: run the corpora on a fixed pool of 4
    // threads, then assert on this thread in corpus order
    val corpora = sample(corpusGen, 40)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val runs = try {
      val fs = corpora.map { corpus =>
        val df = corpus.toSeq.toDF("w", "wc")
        scala.concurrent.Future {
          val gotMerges = TextAnalysis.bpeTrainMergesFrom(df).collect()
            .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"),
              r.getAs[Long]("pair_weight"))).toList
          val gotSegs = TextAnalysis.bpeEncodeWordsFrom(df).collect()
            .map(r => r.getAs[String]("w") ->
              r.getAs[String]("encoded").split(" ").toList).toMap
          (gotMerges, gotSegs)
        }
      }
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    corpora.zip(runs).foreach { case (corpus, (gotMerges, gotSegs)) =>
      val (refMerges, refSegs) = refBpe(corpus, TextAnalysis.BpeMerges)
      assert(gotMerges === refMerges, s"merges diverged on $corpus")
      assert(gotSegs === refSegs.map { case (w, ss) => w -> ss },
        s"encodings diverged on $corpus")
    }
  }

  test("kruskal-wallis matches an exact-rational reference on generated groups") {
    import graft.operators.Inference
    val caseGen = for {
      k <- Gen.choose(2, 4)
      sizes <- Gen.listOfN(k, Gen.choose(2, 8))
      vals <- Gen.sequence[List[List[Int]], List[Int]](
        sizes.map(n => Gen.listOfN(n, Gen.choose(1, 5))))
    } yield vals.zipWithIndex.flatMap { case (vs, g) =>
      vs.map(v => (('a' + g).toChar.toString, v.toDouble))
    }
    sample(caseGen, 25).filter(_.nonEmpty).foreach { rows =>
      // exact rational reference over BigDecimal-free arithmetic:
      // tie-averaged ranks are halves, so double arithmetic is exact
      // here (all quantities are small integers or exact halves)
      val n = rows.length
      val byVal = rows.map(_._2).groupBy(identity).view
        .mapValues(_.size).toMap
      val below = byVal.keys.map { v =>
        v -> rows.count(_._2 < v)
      }.toMap
      val rank = byVal.keys.map { v =>
        v -> (below(v) + (byVal(v) + 1) / 2.0)
      }.toMap
      val groups = rows.groupBy(_._1)
      val hSum = groups.values.map { g =>
        val r = g.map(x => rank(x._2)).sum
        r * r / g.size
      }.sum
      val h = 12.0 / (n.toDouble * (n + 1)) * hSum - 3.0 * (n + 1)
      val ties = byVal.values.map(t => t.toDouble * t * t - t).sum
      val out = Inference.kruskalWallisFrom(rows.toDF("grp", "v")).head
      val kk = groups.size
      // operator floors Σ R2²/n in quarter-units: ≤ k quarter-units
      val tol = 3.0 * kk / (n.toDouble * (n + 1)) + 1e-9
      assert(math.abs(out.getAs[Double]("h") - h) <= tol,
        s"H diverged on $rows")
      if (ties == 0)
        assert(math.abs(out.getAs[Double]("h_tie") - h) <= tol)
      else {
        val c = 1.0 - ties / (n.toDouble * n * n - n)
        assert(math.abs(out.getAs[Double]("h_tie") - h / c)
          <= tol / c + 1e-9, s"H_tie diverged on $rows")
      }
    }
  }

  test("runs test matches a sequential sweep on generated series") {
    import graft.operators.Inference
    val serGen = for {
      n <- Gen.choose(5, 25)
      vs <- Gen.listOfN(n, Gen.choose(0L, 3L))
    } yield vs
    sample(serGen, 25).foreach { vs =>
      val ser = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("di", "n").localCheckpoint()
      val out = Inference.runsFrom(ser).head
      val nd = vs.length
      val med = vs.sorted.apply((nd + 1) / 2 - 1)
      val ab = vs.map(_ > med)
      val runs = 1 + ab.zip(ab.tail).count { case (a, b) => a != b }
      val n1 = ab.count(identity)
      assert(out.getAs[Long]("runs") === runs.toLong, s"runs on $vs")
      assert(out.getAs[Long]("n_above") === n1.toLong)
      val p2 = 2.0 * n1 * (nd - n1)
      if (n1 == 0 || n1 == nd) assert(out.isNullAt(out.fieldIndex("z")))
      else {
        val z = (runs - (1.0 + p2 / nd)) /
          math.sqrt(p2 * (p2 - nd) / (nd.toDouble * nd * (nd - 1)))
        assert(math.abs(out.getAs[Double]("z") - z) < 1e-12, s"z on $vs")
      }
    }
  }

  test("MAD anomaly flags match a sequential median/MAD sweep on generated series") {
    import graft.operators.Inference
    val serGen = for {
      n <- Gen.choose(3, 20)
      vs <- Gen.listOfN(n, Gen.choose(0L, 30L))
    } yield vs
    sample(serGen, 25).foreach { vs =>
      val ser = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("di", "n").localCheckpoint()
      def lowerMed(xs: Seq[Long]): Long = xs.sorted.apply((xs.length + 1) / 2 - 1)
      val med = lowerMed(vs)
      val devs = vs.map(v => math.abs(v - med))
      val mad = lowerMed(devs)
      val out = Inference.madFrom(ser).collect().sortBy(_.getAs[Long]("di"))
      assert(out.length === vs.length, s"rows on $vs")
      out.zip(vs).zip(devs).foreach { case ((r, v), dv) =>
        assert(r.getAs[Long]("med") === med, s"med on $vs")
        assert(r.getAs[Long]("mad") === mad, s"mad on $vs")
        assert(r.getAs[Long]("dev") === dv)
        assert(r.getAs[Boolean]("is_anomaly") === (dv * 1349 > mad * 7000),
          s"flag on $vs at $v")
        if (mad > 0)
          assert(r.getAs[Double]("mod_z") === 0.6745 * dv.toDouble / mad.toDouble)
        else assert(r.isNullAt(r.fieldIndex("mod_z")))
      }
    }
  }

  test("Durbin-Watson matches the exact rational on generated series") {
    import graft.operators.Inference
    val serGen = for {
      n <- Gen.choose(2, 15)
      vs <- Gen.listOfN(n, Gen.choose(0L, 50L))
    } yield vs
    sample(serGen, 25).foreach { vs =>
      val ser = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("di", "n").localCheckpoint()
      val out = Inference.dwFrom(ser).head
      val n = vs.length.toLong
      val sd2 = vs.zip(vs.tail).map { case (a, b) => (b - a) * (b - a) }.sum
      val den = n * vs.map(v => v * v).sum - vs.sum * vs.sum
      assert(out.getAs[Long]("n_days") === n)
      if (den <= 0) assert(out.isNullAt(out.fieldIndex("dw")), s"on $vs")
      else assert(out.getAs[Double]("dw") ===
        (sd2 * n).toDouble / den.toDouble, s"dw on $vs")
    }
  }

  test("Cochran Q matches the closed form on generated presence matrices") {
    import graft.operators.Inference
    val presGen = for {
      u <- Gen.choose(2, 8)
      k <- Gen.choose(1, 4)
      pairs <- Gen.listOfN(u * k, Gen.choose(0, 99)).map(_.zipWithIndex
        .collect { case (r, i) if r < 45 => (i / k + 1).toLong -> s"t${i % k}" })
    } yield pairs.distinct
    sample(presGen, 25).filter(_.nonEmpty).foreach { pairs =>
      val out = Inference.cochranFrom(
        pairs.toDF("user_id", "event_type").localCheckpoint()).head
      val k = pairs.map(_._2).distinct.length.toLong
      val cs = pairs.groupBy(_._2).values.map(_.length.toLong)
      val rs = pairs.groupBy(_._1).values.map(_.length.toLong)
      val s0 = pairs.length.toLong
      val den = k * s0 - rs.map(r => r * r).sum
      assert(out.getAs[Long]("k") === k)
      assert(out.getAs[Long]("n_present") === s0)
      if (den <= 0) assert(out.isNullAt(out.fieldIndex("q_stat")),
        s"on $pairs")
      else assert(out.getAs[Double]("q_stat") ===
        ((k - 1) * (k * cs.map(c => c * c).sum - s0 * s0)).toDouble
          / den.toDouble, s"Q on $pairs")
    }
  }

  test("harmonic centrality matches per-node BFS on generated graphs") {
    import graft.operators.Graph
    val edgeGen = for {
      n <- Gen.choose(2, 8)
      m <- Gen.choose(1, 12)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1)
      } yield (s"v$a", s"v$b"))
    } yield es.filter(e => e._1 != e._2).distinct
    // every graph rides ONE frame with its nodes prefixed by its case
    // index: BFS never crosses the disjoint components, so each node's
    // expected value is its own graph's
    val graphs = sample(edgeGen, 20).filter(_.nonEmpty).zipWithIndex
      .map { case (und, i) => (i, (und ++ und.map(_.swap)).distinct) }
    val union = graphs.flatMap { case (i, sym) =>
      sym.map { case (a, b) => (s"c$i.$a", s"c$i.$b") } }
    val out = Graph.harmonicFrom(union.toDF("src", "dst").localCheckpoint())
      .collect().map(r => r.getAs[String]("skill") ->
        ((r.getAs[Long]("n_reached"), r.getAs[Long]("harm_num")))).toMap
    graphs.foreach { case (i, sym) =>
      val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val nodes = sym.map(_._1).distinct
      def bfs(root: String): Map[String, Int] = {
        var dist = Map(root -> 0); var frontier = Set(root)
        for (d <- 1 to Graph.BfsIters) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
            .filterNot(dist.contains)
          dist ++= frontier.map(_ -> d); if (frontier.isEmpty) ()
        }
        dist - root
      }
      nodes.foreach { v =>
        val d = bfs(v)
        val expected = (d.size.toLong,
          d.values.map(Graph.HarmScale / _.toLong).sum)
        assert(out(s"c$i.$v") === expected, s"node $v of $sym")
      }
    }
    assert(out.size === graphs.map(_._2.map(_._1).distinct.size).sum)
  }

  test("winnowing fingerprints match a sequential sweep on generated token docs") {
    import graft.operators.Dedup
    val docGen = for {
      n <- Gen.choose(1, 30)
      ts <- Gen.listOfN(n, Gen.choose(0, 6).map(i => s"w$i"))
    } yield ts
    val docs = sample(docGen, 30).zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
    val out = Dedup.winnowFrom(docs.toDF("doc_id", "text")).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) => d -> rs.map(_.getAs[String]("fp")).toSet }
    def md5hex16(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 16)
    docs.foreach { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val kgrams =
        if (toks.length < Dedup.WinnowK) Seq(toks.mkString(" "))
        else toks.sliding(Dedup.WinnowK).map(_.mkString(" ")).toSeq
      val hs = kgrams.map(md5hex16)
      val n = hs.length
      val expected = (0 to math.max(n - Dedup.WinnowW, 0))
        .map(i => hs.slice(i, math.min(i + Dedup.WinnowW, n)).min).toSet
      assert(out(id) === expected, s"doc $id: '$text'")
    }
  }

}
