package graft.operators

import graft.Q
import graft.functions.Keys
import graft.functions.Text._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the sampling / filtering / scrubbing
  * decisions a training-data pipeline makes AFTER cleaning and dedup.
  * None exist in the reference (its corpus fits in Postgres); at 100 TB
  * they are the steps between "deduped corpus" and "training mix".
  *
  * All selection is HASH-deterministic (md5 of the row's business key),
  * never `rand()`: re-runs, retries, and different partitionings pick
  * exactly the same rows, and the DuckDB oracle can replay the choice.
  */
object Curation {

  /** Per-stratum sampling rates as (lang -> 16-bit hex threshold): a row
    * is kept when the first 4 hex chars of its salted md5 — a uniform
    * 16-bit value in hex order — fall below the stratum's threshold.
    * 0x8000/0x10000 = 50% for English, 0x4000 = 25% for the tail.
    */
  private val StratRates = Seq("en" -> "8000")
  private val DefaultRate = "4000"

  /** Deterministic stratified sampling: keep a per-stratum fraction of
    * documents chosen by hash threshold — map-side only (a filter over
    * the scan; no shuffle, no RNG state), so it costs one pass at any
    * corpus size and composes with pushdown.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val bucket = substring(
      md5(concat(lit("strat:"), col("doc_id").cast("string"))), 1, 4)
    val thr = StratRates.foldLeft(lit(DefaultRate)) { case (acc, (l, t)) =>
      when(col("lang") === l, t).otherwise(acc)
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), bucket.as("bucket"))
      .filter(col("bucket") < thr)
      .orderBy("doc_id")
  }

  val sampleStratifiedSql: String = {
    val thr = StratRates
      .map { case (l, t) => s"WHEN lang = '$l' THEN '$t'" }
      .mkString("CASE ", " ", s" ELSE '$DefaultRate' END")
    s"""SELECT doc_id, lang, source,
              substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
       FROM documents
       WHERE substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 4) < $thr
       ORDER BY doc_id"""
  }

  /** Max documents any one source may contribute (testdata sources
    * carry 25 docs per sf0.01 unit, so the cap binds at every sf).
    */
  private val SourceCap = 10

  /** Per-source contribution cap: keep at most `SourceCap` documents per
    * source, chosen in hash order (a deterministic uniform shuffle of
    * each source's documents). One partitioned window — shuffles only
    * (source, doc_id, hash), never bodies; no source floods the mix no
    * matter how large its crawl is.
    */
  def samplePerSourceCap(s: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(lit("cap:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), h.as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= SourceCap)
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy("source", "rk")
  }

  val samplePerSourceCapSql: String =
    s"""SELECT source, doc_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id)
                AS INT) AS rk
       FROM documents
       QUALIFY rk <= $SourceCap
       ORDER BY source, rk"""

  /** Quality gate thresholds (first failing reason wins). */
  private val MinTokens = 15
  private val MaxStopRatio = 0.5
  private val MaxLen = 5000

  /** Keep/drop decision with an auditable reason — the step that turns
    * [[TextAnalysis.textQualityScore]]'s signals into a curation
    * decision. Pure projection; reasons make the drop set explainable
    * (what a 100 TB curation run must log to be debuggable).
    */
  /** Substring blocklist — boilerplate/spam markers a web-corpus
    * curation pass routes on (the list is a config in real
    * deployments; a deterministic constant here so the oracle can
    * verify routing mechanics). Substring match by design: conservative
    * recall beats word-boundary precision at the routing stage, and
    * flagged docs get human-reviewable hit counts, not silent drops.
    */
  val Blocklist: Seq[String] = Seq(
    "click here", "buy now", "subscribe", "lorem ipsum", "free trial")

  /** Blocklist routing report per source — the spam/boilerplate gate
    * next to [[qualityFilterReasons]]' heuristic thresholds: per doc,
    * how many blocklist phrases occur (codegen'd `instr` over
    * lowercased text — no regex, no UDF); per source, the docs-flagged
    * rate the curation dashboard watches per scrape feed. Exact counts,
    * one division. Scale: pure map-side projection, source-cardinality
    * output. (round 7)
    */
  def blocklistFilter(s: SparkSession, dir: String): DataFrame = {
    val hits = Blocklist
      .map(p => when(instr(lower(col("text")), p) > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    Tables.documents(s, dir)
      .select(col("source"), hits.as("n_hits"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("n_hits")).as("total_hits"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        col("total_hits"),
        (col("n_flagged").cast("double") / col("n_docs").cast("double"))
          .as("flag_rate"))
      .orderBy("source")
  }

  val blocklistFilterSql: String = {
    val hits = Blocklist
      .map(p => s"CASE WHEN position('$p' IN lower(text)) > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH d AS (SELECT source, CAST($hits AS BIGINT) AS n_hits
                   FROM documents)
       SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_flagged,
              CAST(SUM(n_hits) AS BIGINT) AS total_hits,
              CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS flag_rate
       FROM d GROUP BY source ORDER BY source"""
  }

  def qualityFilterReasons(s: SparkSession, dir: String): DataFrame = {
    val tk = toks(col("text"))
    val en = TextAnalysis.Stop(0)._2
    Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("len"),
        size(tk).as("n_tokens"),
        size(filter(tk, t => array_contains(array(en.map(lit): _*), t)))
          .as("stop_cnt"))
      .withColumn("stop_ratio",
        col("stop_cnt").cast("double") / col("n_tokens").cast("double"))
      .withColumn("drop_reason",
        when(col("n_tokens") < MinTokens, "too_short")
          .when(col("stop_ratio") >= MaxStopRatio, "low_signal")
          .when(col("len") > MaxLen, "too_long")
          .otherwise(lit(null).cast("string")))
      .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
        col("drop_reason").isNull.as("keep"), col("drop_reason"))
      .orderBy("doc_id")
  }

  val qualityFilterReasonsSql: String = {
    val arr = TextAnalysis.Stop(0)._2.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH f AS (
         SELECT doc_id, length(text) AS len, len(tk) AS n_tokens,
                len(list_filter(tk, t -> list_contains($arr, t))) AS stop_cnt
         FROM (SELECT doc_id, text, ${sqlToks("text")} AS tk FROM documents)),
       r AS (
         SELECT doc_id, n_tokens,
           CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
           CASE WHEN n_tokens < $MinTokens THEN 'too_short'
                WHEN CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                     >= $MaxStopRatio THEN 'low_signal'
                WHEN len > $MaxLen THEN 'too_long'
                ELSE NULL END AS drop_reason
         FROM f)
       SELECT doc_id, n_tokens, stop_ratio,
              (drop_reason IS NULL) AS keep, drop_reason
       FROM r ORDER BY doc_id"""
  }

  /** Digit-run scrubbing over the events payload — the PII-redaction
    * shape (emails/phones/ids are the same regexp_replace with a
    * different pattern; the synthetic corpus only carries digits).
    * Pure projection: scales as one map pass.
    */
  def redactDigits(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        size(expr("regexp_extract_all(props, '[0-9]+', 0)")).as("n_runs"),
        regexp_replace(col("props"), "[0-9]+", "#").as("redacted"))
      .orderBy("event_id")

  val redactDigitsSql: String =
    """SELECT event_id,
              CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT) AS n_runs,
              regexp_replace(props, '[0-9]+', '#', 'g') AS redacted
       FROM events ORDER BY event_id"""

  /** PII categories redacted by [[redactPii]], in application order:
    * URLs first (they swallow embedded emails/IPs), then emails, IPs,
    * and phone-shaped digit runs. Patterns live in the Java ∩ RE2
    * common subset (no backrefs/lookaround) so Spark and the DuckDB
    * oracle match identically.
    *
    * The phone shape requires 9-15 ACTUAL digits, each adjacent pair
    * separated by at most TWO formatting chars (") " in
    * "+1 (555) 123-4567") — `([()\s.-]{0,2}[0-9]){8,14}` counts digits
    * structurally where a bare char-class run could not (no lookahead
    * in the common subset). That excludes ISO dates (8 digits), times,
    * version strings and short numeric IDs, which the earlier 7+-char
    * run pattern over-redacted. Residual conservative bias, documented
    * not hidden: 9+-digit bare IDs and a datetime whose digit stream
    * reaches 9 across single separators ("2024-01-15 12:30") still
    * redact — for a PII scrub, over-redaction is the safe side of that
    * line. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "url" -> "https?://[^\\s]+",
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ip" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "phone" -> "\\+?[0-9]([()\\s.-]{0,2}[0-9]){8,14}")

  /** Extended PII scrub over an (id, text) frame: per-category match
    * counts + the fully redacted text. Counts are taken on the
    * PROGRESSIVELY redacted text (a URL's embedded IP is counted as
    * URL, never twice) — the categorized sibling of [[redactDigits]].
    * Pure per-row projection: map-side only, stays in whole-stage
    * codegen, no shuffle at any corpus size.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withCounts = PiiPatterns.foldLeft(
      df.select(col(idCol), col(textCol).as("redacted"))) {
      case (acc, (cat, pat)) =>
        acc.withColumn(s"n_${cat}s", regexp_count(col("redacted"), lit(pat)))
          .withColumn("redacted",
            regexp_replace(col("redacted"), pat, s"<${cat.toUpperCase}>"))
    }
    withCounts.select(col(idCol) +: PiiPatterns.map { case (c, _) =>
      col(s"n_${c}s") } :+ col("redacted"): _*)
  }

  def piiRedactExtended(s: SparkSession, dir: String): DataFrame =
    redactPii(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val piiRedactExtendedSql: String = {
    // mirror the progressive redaction: each category counts on the
    // text with all PRIOR categories already replaced
    // DuckDB single-quoted literals keep backslashes verbatim, so the
    // Java-side pattern strings embed unchanged
    def redactedThrough(k: Int): String =
      PiiPatterns.take(k).foldLeft("text") { case (e, (cat, pat)) =>
        s"regexp_replace($e, '$pat', '<${cat.toUpperCase}>', 'g')"
      }
    val countCols = PiiPatterns.zipWithIndex.map { case ((cat, pat), i) =>
      s"CAST(len(regexp_extract_all(${redactedThrough(i)}, '$pat')) AS INT) AS n_${cat}s"
    }.mkString(",\n              ")
    s"""SELECT doc_id,
              $countCols,
              ${redactedThrough(PiiPatterns.size)} AS redacted
       FROM documents ORDER BY doc_id"""
  }

  /** Span-corruption block width (tokens per maskable block). */
  val SpanLen = 3

  /** 16-bit hex threshold: blocks whose salted hash falls below are
    * masked — 0x2666/0x10000 = 15%, the T5 corruption rate; block
    * masking makes the expected TOKEN mask rate the same 15% in
    * contiguous SpanLen runs. */
  val SpanMaskHex = "2666"

  /** T5-style span-corruption PLAN: for each document, which
    * fixed-width token blocks a denoising objective would mask —
    * chosen by salted md5 so the plan is identical across re-runs,
    * engines, and partitionings (the sampling discipline of this
    * file; a seeded RNG could not be oracle-gated). Blocks rather
    * than free spans so masks never overlap and the accounting stays
    * exact. Output is the per-doc mask accounting (token/block/masked
    * counts + rate); the actual sentinel-token rewrite is a map-side
    * projection downstream of this frame. One scan, token-linear
    * block explode.
    */
  def spanCorruptionPlan(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L), expr(s"(n - 1) div $SpanLen"))).as("b"))
      .select(col("doc_id"), col("n"), col("b"),
        least(lit(SpanLen.toLong), col("n") - col("b") * SpanLen).as("bsz"),
        (substring(md5(concat_ws(":", col("doc_id"), col("b"))), 1, 4)
          < SpanMaskHex).cast("long").as("m"))
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_tokens"),
        count(lit(1)).as("n_blocks"),
        sum(col("m")).as("n_masked_blocks"),
        sum(col("m") * col("bsz")).as("n_masked_tokens"))
      .withColumn("mask_rate",
        col("n_masked_tokens").cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")

  val spanCorruptionPlanSql: String =
    s"""WITH d AS (SELECT doc_id,
                CAST(len(${sqlToks("text")}) AS BIGINT) AS n
              FROM documents),
       blocks AS (
         SELECT doc_id, n, b.b,
                LEAST($SpanLen, n - b.b * $SpanLen) AS bsz,
                CASE WHEN substr(md5(doc_id || ':' || b.b), 1, 4)
                          < '$SpanMaskHex' THEN 1 ELSE 0 END AS m
         FROM d, UNNEST(generate_series(0, (n - 1) // $SpanLen)) AS b(b)
         WHERE n > 0)
       SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
              CAST(COUNT(*) AS BIGINT) AS n_blocks,
              CAST(SUM(m) AS BIGINT) AS n_masked_blocks,
              CAST(SUM(m * bsz) AS BIGINT) AS n_masked_tokens,
              CAST(SUM(m * bsz) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS mask_rate
       FROM blocks GROUP BY doc_id ORDER BY doc_id"""

  /** Hash-bucket count for DSIR features (2^10 buckets of unigram
    * murmur3 hashes — small enough to broadcast, large enough that
    * collisions average out, per the hashed-ngram design in Xie et
    * al. 2023). */
  val DsirBuckets = 1024

  /** Fixed-point scale for per-bucket log-likelihood ratios (1.0 ==
    * 10^6; |llr| <= ~40 so per-doc sums stay far under 2^63). */
  val DsirScale = 1000000L

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every document by how much
    * more likely its hashed-unigram bag is under the TARGET domain
    * (English docs here) than under the RAW corpus. Documents ranked
    * by `dsir_logw` are what importance resampling would draw first
    * to shift the training mix toward the target.
    *
    * Laplace-smoothed bucket probabilities; the per-bucket log ratio
    * is ONE double log per bucket (1024 rows), floored to a scaled
    * BIGINT, so every per-doc score is an exact integer sum —
    * bit-identical under any partitioning (DeterminismSpec-safe). The
    * corpus is scanned once into (doc, bucket, n) counts; the
    * 1024-row ratio table broadcasts. Rows-only key: log makes the
    * score engine-specific (SURVEY §5 keeps transcendentals out of
    * hash-compared keys by design); behavior is spec-bounded on a
    * planted two-vocabulary corpus instead.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(toks(lower(col("text")))).as("term"))
      .withColumn("b", pmod(hash(col("term")), lit(DsirBuckets)))
      .localCheckpoint()
    val rawB = tok.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgtB = tok.filter(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val totals = tok.agg(
      count(lit(1)).as("nr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
    val llr = rawB.join(tgtB, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor(lit(DsirScale.toDouble) *
          (log((coalesce(col("ct"), lit(0L)) + 1).cast("double")
              / (col("nt") + DsirBuckets).cast("double"))
            - log((col("cr") + 1).cast("double")
              / (col("nr") + DsirBuckets).cast("double"))))
          .cast("long").as("llr6"))
    tok.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("nf"))
      .join(broadcast(llr), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("nf")).as("n_tokens"),
        sum(col("nf") * col("llr6")).as("logw6"))
      .select(col("doc_id"), col("n_tokens"),
        (col("logw6").cast("double") / lit(DsirScale.toDouble))
          .as("dsir_logw"))
      .orderBy("doc_id")
  }

  /** Tokens per packed training sequence. */
  private val SeqBudget = 2048L

  /** Sequence packing — concatenate-then-chunk, the pretraining layout:
    * documents are laid end-to-end in deterministic (source, doc_id)
    * order and each doc is tagged with the fixed-budget sequence bin its
    * first token lands in. Per-source partitioned windows (parallel;
    * no global funnel); the cumulative SUM is BIGINT-cast on the oracle
    * side (DuckDB widens windowed SUM to HUGEINT).
    */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_tok"),
        expr(s"CAST((cum - n_tokens) div $SeqBudget AS INT)").as("seq_bin"))
      .orderBy("doc_id")
  }

  val packSequencesSql: String =
    s"""WITH t AS (SELECT doc_id, source,
                     CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tokens
                   FROM documents),
       c AS (SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM t)
       SELECT doc_id, source, n_tokens, cum - n_tokens AS start_tok,
              CAST((cum - n_tokens) // $SeqBudget AS INT) AS seq_bin
       FROM c ORDER BY doc_id"""

  /** Fixed-size deterministic sample size for [[sampleBottomK]]. */
  val BottomK = 100

  /** Fixed-SIZE deterministic corpus sample — the distributed
    * reservoir done right: the k smallest salted-md5 values are a
    * uniform k-subset (order statistics of a uniform hash), and Spark
    * plans `ORDER BY hash LIMIT k` as TakeOrderedAndProject — each
    * partition keeps its own top-k and the driver merges partition
    * winners, so no global sort ever runs. Complements the
    * FRACTION-based [[sampleStratified]]: dashboards and eval sets
    * want exactly-k, not p%%. Deterministic, replayable, and
    * batch-stable (a grown corpus keeps earlier winners unless
    * displaced — bottom-k hashes are a monotone sketch of the id set).
    * (round 6)
    */
  def sampleBottomK(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("bk:"), col("doc_id"))).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(BottomK)

  val sampleBottomKSql: String =
    s"""SELECT doc_id, source, md5('bk:' || CAST(doc_id AS VARCHAR)) AS h
       FROM documents ORDER BY h, doc_id LIMIT $BottomK"""

  /** Rows per training batch in [[lengthBucketBatches]]. */
  val LengthBatchSize = 32

  /** Length-bucketed BATCH ASSIGNMENT — the padding-waste killer every
    * sequence-model trainer runs: group documents into power-of-two
    * token-length buckets (bucket = bit width of n_tokens — integer
    * arithmetic, no log), then deterministically pack each bucket into
    * fixed-size batches and report each batch's padding waste
    * (n_docs x batch_max - total tokens: what padding-to-batch-max
    * actually costs). Batching random-length docs pads every sequence
    * to the global max; bucketing first bounds the waste by the bucket
    * ratio, and the report PROVES it per batch.
    *
    * Batch ids need a sequential rank inside each bucket, which is the
    * 10^9-docs-per-bucket trap if done as one per-bucket window; the
    * rank is therefore two-phase (the Keys.denseIds discipline): a
    * partitioned rank inside (bucket, md5-sub-bucket) + broadcast
    * offsets from the (bucket x 16)-row sub-bucket count frame. Order
    * inside a bucket is salted-md5 (deterministic, replayable, and
    * length-independent so batches stay representative). (round 6)
    */
  def lengthBucketBatches(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bucket", length(bin(col("n_tokens"))))
      .withColumn("h", md5(concat(lit("lbb:"), col("doc_id"))))
      .withColumn("sub", substring(col("h"), 1, 1))
    val wSub = Window.partitionBy(col("bucket"), col("sub"))
      .orderBy(col("h"), col("doc_id"))
    val ranked = docs.withColumn("rsub",
      row_number().over(wSub).cast("long") - 1)
    val counts = docs.groupBy("bucket", "sub").agg(count(lit(1)).as("c"))
    val wOff = Window.partitionBy(col("bucket")).orderBy(col("sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col("bucket"), col("sub"), col("off"))
    ranked.join(broadcast(offs), Seq("bucket", "sub"))
      .withColumn("batch_id",
        expr(s"CAST((off + rsub) div $LengthBatchSize AS INT)"))
      .groupBy("bucket", "batch_id")
      .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .select(col("bucket"), col("batch_id"), col("n_docs"),
        col("max_tokens"), col("sum_tokens"),
        (col("n_docs") * col("max_tokens") - col("sum_tokens"))
          .as("pad_waste"))
      .orderBy("bucket", "batch_id")
  }

  val lengthBucketBatchesSql: String =
    s"""WITH d AS (
         SELECT doc_id, CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tokens
         FROM documents),
       b AS (SELECT doc_id, n_tokens,
                    CAST(length(format('{:b}', n_tokens)) AS INT) AS bucket,
                    md5('lbb:' || CAST(doc_id AS VARCHAR)) AS h
             FROM d),
       sb AS (SELECT *, substr(h, 1, 1) AS sub FROM b),
       rk AS (SELECT doc_id, n_tokens, bucket, sub,
                CAST(ROW_NUMBER() OVER (PARTITION BY bucket, sub
                  ORDER BY h, doc_id) AS BIGINT) - 1 AS rsub
              FROM sb),
       cnt AS (SELECT bucket, sub, CAST(COUNT(*) AS BIGINT) AS c
               FROM sb GROUP BY 1, 2),
       offs AS (SELECT bucket, sub,
                  CAST(COALESCE(CAST(SUM(c) OVER (PARTITION BY bucket
                    ORDER BY sub ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING) AS BIGINT), 0) AS BIGINT) AS off
                FROM cnt),
       asg AS (SELECT r.bucket, r.n_tokens,
                 CAST((o.off + r.rsub) // $LengthBatchSize AS INT) AS batch_id
               FROM rk r JOIN offs o
                 ON r.bucket = o.bucket AND r.sub = o.sub)
       SELECT bucket, batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
              CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
              CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
                AS pad_waste
       FROM asg GROUP BY 1, 2 ORDER BY bucket, batch_id"""

  /** Interleaved CURRICULUM ORDER — the data-ordering step between mix
    * construction and training: rank each source's documents by a
    * difficulty proxy (n_chars here; any deterministic score slots in),
    * then emit the round-robin schedule slot = (rank-1)*S + source_idx
    * so consecutive training steps cycle through sources instead of
    * draining them one by one (the "don't front-load one domain"
    * ordering rule). The closed-form slot needs NO global window: the
    * per-source difficulty rank is two-phase (per-(source, value)
    * partitioned ties rank + offsets from a value-cardinality window),
    * and the source index comes from a rank-via-self-join over the
    * tiny distinct-source frame. Slots are strictly increasing per
    * source and collision-free by construction; when a source
    * exhausts, its later slots are simply absent (the schedule a
    * round-robin sampler with finite sources actually produces).
    * (round 6)
    */
  def curriculumInterleave(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val srcs = docs.select("source").distinct()
    val sidx = srcs.as("a").join(srcs.as("b"),
        col("b.source") <= col("a.source"))
      .groupBy(col("a.source").as("source"))
      .agg(count(lit(1)).as("sidx"))
    val nSrc = srcs.agg(count(lit(1)).as("n_src"))
    val ties = Window.partitionBy(col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
    val wOff = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val counts = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col("source"), col("n_chars"), col("off"))
    docs.withColumn("tie", row_number().over(ties).cast("long"))
      .join(broadcast(counts), Seq("source", "n_chars"))
      .withColumn("src_rank", col("off") + col("tie"))
      .join(broadcast(sidx), Seq("source"))
      .crossJoin(broadcast(nSrc))
      .select(col("doc_id"), col("source"), col("n_chars"), col("src_rank"),
        ((col("src_rank") - 1) * col("n_src") + col("sidx") - 1).as("slot"))
      .orderBy("slot")
  }

  val curriculumInterleaveSql: String =
    """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
       srcs AS (SELECT DISTINCT source FROM d),
       sidx AS (SELECT a.source, CAST(COUNT(*) AS BIGINT) AS sidx
                FROM srcs a JOIN srcs b ON b.source <= a.source
                GROUP BY 1),
       ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src FROM srcs),
       cnt AS (SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
               FROM d GROUP BY 1, 2),
       offs AS (SELECT source, n_chars,
                  CAST(COALESCE(CAST(SUM(c) OVER (PARTITION BY source
                    ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING) AS BIGINT), 0) AS BIGINT) AS off
                FROM cnt),
       rk AS (SELECT d.doc_id, d.source, d.n_chars,
                o.off + CAST(ROW_NUMBER() OVER (PARTITION BY d.source,
                  d.n_chars ORDER BY d.doc_id) AS BIGINT) AS src_rank
              FROM d JOIN offs o
                ON d.source = o.source AND d.n_chars = o.n_chars)
       SELECT r.doc_id, r.source, r.n_chars, r.src_rank,
              (r.src_rank - 1) * ns.n_src + s.sidx - 1 AS slot
       FROM rk r JOIN sidx s ON r.source = s.source CROSS JOIN ns
       ORDER BY slot"""

  /** Token-budget mix report: per-language token mass and its fraction
    * of the corpus — the number a training-mix designer steers on. The
    * corpus total joins in via a broadcast 1-row aggregate (no global
    * window); the fraction divides two exact BIGINTs.
    */
  def tokenBudgetMix(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("lang"), size(toks(col("text"))).cast("long").as("t"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("lang_tokens"))
    val tot = per.agg(sum(col("lang_tokens")).as("total_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("lang_tokens"),
        (col("lang_tokens").cast("double") /
          col("total_tokens").cast("double")).as("token_frac"))
      .orderBy("lang")
  }

  val tokenBudgetMixSql: String =
    s"""WITH t AS (SELECT lang, CAST(len(${sqlToks("text")}) AS BIGINT) AS t
                   FROM documents),
       per AS (SELECT lang, COUNT(*) AS n_docs,
                      CAST(SUM(t) AS BIGINT) AS lang_tokens
               FROM t GROUP BY lang),
       tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens FROM per)
       SELECT lang, n_docs, lang_tokens,
              CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_frac
       FROM per CROSS JOIN tot ORDER BY lang"""

  /** Temperature-mixed source weights — the multinomial sampling recipe
    * the GPT-3/LLaMA data mixes use: admission weight per source
    * proportional to (token mass)^alpha with alpha = 1/2, which
    * up-weights small sources (boost > 1) and down-weights the head
    * without hard caps. Parity discipline: a literal pow() would sum
    * per-source DOUBLES in engine order for the normalizer — instead
    * the weight is the INTEGER isqrt of micro-scaled token mass
    * (floor(sqrt(tokens * 10^6)): the product is < 2^53 for any corpus
    * under ~9e9 tokens per source so the double conversion is exact,
    * and sqrt is IEEE-correctly-rounded in both engines), making the
    * normalizer an exact BIGINT sum; each output ratio is then one
    * IEEE division. Plan: one narrow (source, tokens) agg + a 1-row
    * broadcast — identical shape to [[tokenBudgetMix]]. (round 5)
    */
  def sourceMixTemperature(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("source"), size(toks(col("text"))).cast("long").as("t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("tokens"))
      .withColumn("temp_w",
        floor(sqrt((col("tokens") * lit(1000000L)).cast("double")))
          .cast("long"))
    val tot = per.agg(sum(col("tokens")).as("total_tokens"),
      sum(col("temp_w")).as("total_w"))
    val tokenFrac =
      col("tokens").cast("double") / col("total_tokens").cast("double")
    val mixFrac =
      col("temp_w").cast("double") / col("total_w").cast("double")
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"), col("temp_w"),
        tokenFrac.as("token_frac"), mixFrac.as("mix_frac"),
        (mixFrac / tokenFrac).as("boost"))
      .orderBy("source")
  }

  val sourceMixTemperatureSql: String =
    s"""WITH t AS (SELECT source, CAST(len(${sqlToks("text")}) AS BIGINT) AS t
                   FROM documents),
       per AS (SELECT source, COUNT(*) AS n_docs,
                      CAST(SUM(t) AS BIGINT) AS tokens
               FROM t GROUP BY source),
       w AS (SELECT source, n_docs, tokens,
                    CAST(FLOOR(SQRT(CAST(tokens * 1000000 AS DOUBLE)))
                      AS BIGINT) AS temp_w
             FROM per),
       tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
                      CAST(SUM(temp_w) AS BIGINT) AS total_w FROM w)
       SELECT source, n_docs, tokens, temp_w,
              CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
                AS token_frac,
              CAST(temp_w AS DOUBLE) / CAST(total_w AS DOUBLE) AS mix_frac,
              (CAST(temp_w AS DOUBLE) / CAST(total_w AS DOUBLE))
                / (CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
                AS boost
       FROM w CROSS JOIN tot ORDER BY source"""

  /** Epoch materialization — turn [[sourceMixTemperature]]'s mix
    * weights into ACTUAL training copies, the step between "the mix
    * designer chose boosts" and "the loader reads rows": every doc
    * gets floor(boost) copies plus one more iff a salted id hash lands
    * under the fractional part, so head sources (boost < 1) subsample
    * to 0-or-1 copies and tail sources replicate — deterministic,
    * shuffle-free, replayable on any cluster (the property RNG
    * sampling loses on retry).
    *
    * Parity discipline: boost is carried as an exact integer in
    * 2^16-units — boost16 = (temp_w * total * 65536) div (total_w *
    * tokens) computed in DECIMAL(38,0) (oracle: HUGEINT), so div and
    * mod are exact in both engines; the fractional admission compares
    * the first 4 md5 hex chars AS AN INTEGER (Spark conv(h,16,10);
    * DuckDB CAST('0x' || h AS BIGINT)) against frac16 — integer-exact,
    * no float anywhere. Plan: one narrow (source, tokens) agg + a
    * source-sized broadcast join + a per-row bounded explode — the
    * blow-up is the OUTPUT (copy rows), never an intermediate.
    * (round 5)
    */
  def epochUpsample(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("t"))
    val per = t.groupBy("source")
      .agg(sum(col("t")).as("tokens"))
      .withColumn("temp_w",
        floor(sqrt((col("tokens") * lit(1000000L)).cast("double")))
          .cast("long"))
    val tot = per.agg(sum(col("tokens")).as("total_tokens"),
      sum(col("temp_w")).as("total_w"))
    val boost = per.crossJoin(broadcast(tot))
      .withColumn("boost16",
        expr("""CAST(CAST(temp_w AS DECIMAL(38,0)) * total_tokens * 65536
                div (CAST(total_w AS DECIMAL(38,0)) * tokens) AS BIGINT)"""))
      .select(col("source").as("b_source"),
        expr("boost16 div 65536").as("n_full"),
        (col("boost16") % 65536).as("frac16"))
    t.join(broadcast(boost), col("source") === col("b_source"))
      .withColumn("h16",
        conv(substring(md5(concat(lit("epoch:"),
          col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long"))
      .withColumn("n_copies",
        (col("n_full") + when(col("h16") < col("frac16"), 1L).otherwise(0L))
          .cast("long"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  val epochUpsampleSql: String =
    s"""WITH t AS (SELECT doc_id, source,
                     CAST(len(${sqlToks("text")}) AS BIGINT) AS t
                   FROM documents),
       per AS (SELECT source, CAST(SUM(t) AS BIGINT) AS tokens
               FROM t GROUP BY source),
       w AS (SELECT source, tokens,
                    CAST(FLOOR(SQRT(CAST(tokens * 1000000 AS DOUBLE)))
                      AS BIGINT) AS temp_w
             FROM per),
       tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
                      CAST(SUM(temp_w) AS BIGINT) AS total_w FROM w),
       b AS (SELECT source,
                    CAST(CAST(temp_w AS HUGEINT) * total_tokens * 65536
                         // (CAST(total_w AS HUGEINT) * tokens) AS BIGINT)
                      AS boost16
             FROM w CROSS JOIN tot),
       n AS (SELECT t.doc_id, t.source,
                    CAST(b.boost16 // 65536 +
                      CASE WHEN CAST(('0x' || substr(md5('epoch:' ||
                             CAST(t.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                           < b.boost16 % 65536 THEN 1 ELSE 0 END AS BIGINT)
                      AS n_copies
             FROM t JOIN b ON t.source = b.source)
       SELECT doc_id, source, n_copies, CAST(u.g AS BIGINT) AS copy_idx
       FROM n, UNNEST(generate_series(1, n_copies)) AS u(g)
       WHERE n_copies >= 1
       ORDER BY doc_id, copy_idx"""

  /** Per-source distribution drift vs the corpus — the mixture
    * diagnostic next to [[tokenBudgetMix]]: TOTAL-VARIATION distance
    * between each source's unigram distribution and the whole corpus's
    * (TV = half the L1 gap; 0 = identical vocabulary usage, → 1 =
    * disjoint). The number a mix designer watches to spot a source
    * drifting off-distribution (scraper rot, a crawl gone off-domain)
    * — chosen over KL precisely because it needs NO transcendentals:
    * every term is |c_st * N - c_t * n_s| in exact DECIMAL(38,0)
    * (oracle: HUGEINT), so the sum is order-independent and
    * bit-portable where a log-based divergence would sum
    * engine-ordered doubles (the §5 discipline; same reason
    * quality_unigram_lm scores by weighted frequency, not log-prob).
    *
    * Tokens ABSENT from a source still contribute |0 - c_t * n_s|;
    * rather than materializing the absent (source, token) pairs, their
    * mass folds into the closed form (N - covered_s) * n_s where
    * covered_s is the corpus count of the tokens the source DOES use —
    * so the plan stays on the tfidf shuffle shape: one (source, tok)
    * agg, a |vocab|-sized tok join (AQE splits head tokens), one
    * source-sized reduce. Division happens once per source at the very
    * end. (round 5)
    */
  /** Quantile normalization of doc length ACROSS sources — the
    * batch-effect correction the [[ksSourceMatrix]] drift report calls
    * for ("source B's documents run long because of its scraper, not
    * its content — map every source onto the pooled distribution
    * before length-sensitive downstream steps"): each doc maps to the
    * GLOBAL value at its within-source quantile, rank-exactly —
    * r_global = max((r_source·N) div n_s, 1), both ranks from
    * [[graft.functions.Keys.denseIds]]' two-phase bucketed rank
    * (deterministic doc_id tie-break, no global window), the mapping
    * one equi-join on the computed target rank. Pure integer
    * arithmetic — no interpolation ambiguity for the oracle to
    * disagree on. Scale: two denseIds passes + one rank equi-join,
    * all corpus-row-cardinality with aggregate-sized sides broadcast.
    * (round 7)
    */
  def quantileNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Keys
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val rs = Keys.denseIds(d, Seq("source"), Seq("n_chars", "doc_id"), "r")
    val g = Keys.denseIds(
      d.select(col("n_chars").as("g_chars"), col("doc_id").as("g_doc")),
      Nil, Seq("g_chars", "g_doc"), "rg")
    val ns = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val nt = d.agg(count(lit(1)).as("nt"))
    rs.join(broadcast(ns), Seq("source")).crossJoin(broadcast(nt))
      .withColumn("rt",
        greatest(expr("(CAST(r AS BIGINT) * nt) div n_s"), lit(1L)))
      .join(g.select(col("rg").cast("long").as("rt"), col("g_chars")),
        Seq("rt"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("g_chars").as("normalized_chars"))
      .orderBy("doc_id")
  }

  val quantileNormalizeSql: String =
    """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
       rs AS (SELECT doc_id, source, n_chars,
                CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY n_chars, doc_id) AS BIGINT) AS r
              FROM d),
       g AS (SELECT n_chars AS g_chars,
               CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id)
                    AS BIGINT) AS rg
             FROM d),
       ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
              FROM d GROUP BY 1),
       t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM d)
       SELECT rs.doc_id, rs.source, rs.n_chars,
              g.g_chars AS normalized_chars
       FROM rs JOIN ns ON rs.source = ns.source CROSS JOIN t
         JOIN g ON g.rg = greatest((rs.r * t.nt) // ns.n_s, 1)
       ORDER BY rs.doc_id"""

  /** Length-bucket width for [[ksSourceMatrix]]'s two-phase prefix
    * sums (chars): bucket count scales with the doc-length RANGE (a
    * 1e6-char ceiling is ~1e3 buckets), so the per-(source, bucket)
    * windows stay balanced and the offsets self-join stays tiny at any
    * corpus size — [[graft.operators.Inference.RankBucket]]'s rule at
    * doc-length scale. */
  val KsLenBucket = 1024L

  /** Pairwise two-sample KS distance between per-source DOC-LENGTH
    * distributions — the drift MATRIX completing the corpus-similarity
    * panel ([[sourceDivergenceTv]] weighs token-mass drift vs the
    * corpus, `source_cosine_matrix` the vocabulary angle; this asks
    * whether two scrape feeds even produce the same SHAPE of document,
    * the first thing that silently changes when a site redesigns).
    * D = max over the union value grid of |F_a − F_b|, evaluated
    * exactly: per-source step CDFs on the shared n_chars grid via
    * [[graft.functions.Keys.prefixSums]] grouped by source over
    * [[KsLenBucket]] buckets — LINEAR in grid size, vs
    * the ≤-join formulation whose each grid row rescans all of its
    * source's cells, O(values²) per source once distinct doc lengths
    * reach 1e5-1e6), then the max of |ca·nb − cb·na| in exact BIGINTs,
    * one division per pair. Scale: cells are sources×lengths-bounded,
    * the grid sources×values, offsets sources×buckets (bucket count
    * scales with the VALUE RANGE, never rows), pairs sources²; nothing
    * corpus-sized ever joins and no range join touches the values
    * frame (PlanQualitySpec pins both). (round 7; CDF linearized
    * round 8)
    */
  def ksSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // sources×lengths; feeds grid, totals, values
    val vals = cells.select("v").distinct()
    val srcs = cells.select("source").distinct()
    // dense (source, v) grid: observed count at the source's own
    // lengths, 0 at every other source's — the step-CDF carrier
    val grid0 = vals.crossJoin(srcs)
      .join(cells, Seq("source", "v"), "left")
      .select(col("source"), col("v"),
        coalesce(col("c"), lit(0L)).as("c0"))
    val grid = Keys.prefixSums(grid0, Seq("source"), expr(s"v div $KsLenBucket"),
        Seq(col("v")), Seq("c0"))
      .select(col("source"), col("v"), col("cum_c0").as("cum"))
    val tots = cells.groupBy("source").agg(sum(col("c")).as("n"))
    val g = grid.join(broadcast(tots), Seq("source"))
    // cross-products in DECIMAL(38,0)/HUGEINT: cum·n passes BIGINT once
    // two sources hold ~3e9 docs each (the same widening cochranFrom
    // and dwFrom apply; Spark would wrap silently, DuckDB would error)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    g.as("a").join(g.as("b"),
        col("a.v") === col("b.v") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(max(abs(dec(col("a.cum")) * col("b.n")
        - dec(col("b.cum")) * col("a.n"))).as("d_num"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        (col("d_num").cast("double")
          / (dec(col("n_a")) * col("n_b")).cast("double")).as("d_stat"))
      .orderBy("source_a", "source_b")
  }

  val ksSourceMatrixSql: String =
    """WITH cells AS MATERIALIZED (
         SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
         FROM documents GROUP BY 1, 2),
       vals AS (SELECT DISTINCT v FROM cells),
       srcs AS (SELECT DISTINCT source FROM cells),
       grid AS (SELECT g.source, g.v,
                       CAST(COALESCE(SUM(c.c), 0) AS BIGINT) AS cum
                FROM (SELECT s.source, v.v
                      FROM vals v CROSS JOIN srcs s) g
                  LEFT JOIN cells c
                    ON c.source = g.source AND c.v <= g.v
                GROUP BY 1, 2),
       tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
                FROM cells GROUP BY 1),
       g AS (SELECT grid.source, grid.v, grid.cum, t.n
             FROM grid JOIN tots t ON grid.source = t.source)
       SELECT a.source AS source_a, b.source AS source_b,
              a.n AS n_a, b.n AS n_b,
              CAST(CAST(MAX(ABS(CAST(a.cum AS HUGEINT) * b.n
                                - CAST(b.cum AS HUGEINT) * a.n))
                        AS VARCHAR) AS DOUBLE)
                / CAST(CAST(CAST(a.n AS HUGEINT) * b.n AS VARCHAR)
                       AS DOUBLE) AS d_stat
       FROM g a JOIN g b ON a.v = b.v AND a.source < b.source
       GROUP BY 1, 2, 3, 4
       ORDER BY source_a, source_b"""

  def sourceDivergenceTv(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(s, dir)
      .select(col("source"), explode(toks(col("text"))).as("tok"))
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("cs"))
    val tot = st.groupBy("tok").agg(sum(col("cs")).as("c"))
    val ns = st.groupBy("source").agg(sum(col("cs")).as("n_s"),
      count(lit(1)).as("vocab_terms"))
    val n = tot.agg(sum(col("c")).cast("decimal(38,0)").as("n"))
    val dec = "decimal(38,0)"
    val inSum = st.join(tot, "tok")
      .join(broadcast(ns.select(col("source"), col("n_s"))), "source")
      .crossJoin(broadcast(n))
      .select(col("source"),
        abs(col("cs").cast(dec) * col("n") -
          col("c").cast(dec) * col("n_s").cast(dec)).as("gap"),
        col("c").cast(dec).as("c"))
      .groupBy("source")
      .agg(sum(col("gap")).as("gap_sum"), sum(col("c")).as("covered"))
    inSum.join(broadcast(ns), "source").crossJoin(broadcast(n))
      .select(col("source"), col("n_s").as("source_tokens"),
        col("vocab_terms"),
        ((col("gap_sum") + (col("n") - col("covered")) *
          col("n_s").cast(dec)).cast("double") /
          (lit(2).cast(dec) * col("n_s").cast(dec) * col("n"))
            .cast("double")).as("tv_distance"))
      .orderBy("source")
  }

  val sourceDivergenceTvSql: String =
    s"""WITH tk AS (SELECT source, unnest(${sqlToks("text")}) AS tok
                    FROM documents),
       st AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cs
              FROM tk GROUP BY 1, 2),
       tot AS (SELECT tok, CAST(SUM(cs) AS BIGINT) AS c FROM st GROUP BY 1),
       ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS n_s,
                     CAST(COUNT(*) AS BIGINT) AS vocab_terms
              FROM st GROUP BY 1),
       n AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM tot),
       g AS (SELECT st.source,
                    SUM(ABS(CAST(st.cs AS HUGEINT) * n.n
                        - CAST(tot.c AS HUGEINT) * ns.n_s)) AS gap_sum,
                    SUM(CAST(tot.c AS HUGEINT)) AS covered
             FROM st JOIN tot USING (tok) JOIN ns USING (source)
                  CROSS JOIN n
             GROUP BY st.source)
       SELECT g.source, ns.n_s AS source_tokens, ns.vocab_terms,
              CAST(CAST(g.gap_sum + (n.n - g.covered) * CAST(ns.n_s AS HUGEINT)
                     AS VARCHAR) AS DOUBLE)
                / CAST(CAST(2 * CAST(ns.n_s AS HUGEINT) * n.n AS VARCHAR)
                    AS DOUBLE) AS tv_distance
       FROM g JOIN ns USING (source) CROSS JOIN n
       ORDER BY g.source"""

  /** Decontamination shingle width and eval-set selector (5% by id
    * hash-free modulus so the oracle replays it; a real deployment
    * passes an explicit benchmark/eval table instead).
    */
  private val DecontamK = 5
  private val EvalMod = 20

  /** Test-set decontamination: flag (train, eval) pairs sharing at
    * least one word-5-gram — the n-gram-overlap contamination check run
    * before any benchmark number is trusted. Shape: one shingle
    * explosion per side projected to (sh, id) — bodies never leave the
    * map side — and one equi-join on the shingle. Here the "eval set"
    * is a 5% id slice so it scales WITH the corpus and the join stays a
    * shuffle join; against a real fixed-size eval set the eval side is
    * a broadcast and the whole check is map-side. Overlap counting, not
    * membership: n_shared grades contamination severity for triage.
    */
  def decontaminateOverlap(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(
        wordShingles(toks(col("text")), DecontamK))).as("sh"))
    val ev = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("sh"))
    val tr = sh.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id").as("train_id"), col("sh"))
    tr.join(ev, Seq("sh"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("train_id", "eval_id")
  }

  val decontaminateOverlapSql: String =
    s"""WITH shr AS (${sqlShingleRows(DecontamK)}),
       ev AS (SELECT doc_id AS eval_id, sh FROM shr WHERE doc_id % $EvalMod = 0),
       tr AS (SELECT doc_id AS train_id, sh FROM shr WHERE doc_id % $EvalMod <> 0)
       SELECT train_id, eval_id, COUNT(*) AS n_shared
       FROM tr JOIN ev USING (sh)
       GROUP BY train_id, eval_id
       ORDER BY train_id, eval_id"""

  /** Train/val/test thresholds on the 16-bit md5 prefix: 5% test
    * (< 0x0ccc), next 5% val (< 0x1999), rest train.
    */
  private val TestThr = "0ccc"
  private val ValThr = "1999"

  /** Deterministic dataset split by salted hash — the assignment every
    * training run needs to be reproducible across re-runs, retries and
    * repartitioning. Pure map-side projection (zero shuffles, same
    * class as [[sampleStratified]]); the hash prefix is uniform so the
    * split fractions hold per-stratum too.
    */
  def datasetSplitHash(s: SparkSession, dir: String): DataFrame = {
    val h = substring(
      md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 4)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), h.as("bucket"))
      .withColumn("split",
        when(col("bucket") < TestThr, "test")
          .when(col("bucket") < ValThr, "val")
          .otherwise("train"))
      .orderBy("doc_id")
  }

  val datasetSplitHashSql: String =
    s"""SELECT doc_id, lang,
              substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bucket,
              CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                        < '$TestThr' THEN 'test'
                   WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                        < '$ValThr' THEN 'val'
                   ELSE 'train' END AS split
       FROM documents ORDER BY doc_id"""

  /** Per-quality-bucket admission rates as 16-bit hex thresholds:
    * keep all 'good' docs, half of 'ok', 1/8 of 'low'.
    */
  private val QualityRates =
    Seq("good" -> "ffff", "ok" -> "8000", "low" -> "2000")

  /** Quality-weighted sampling: admission probability depends on the
    * document's quality bucket — the curation move that up-weights
    * high-quality text in the training mix without hard-dropping the
    * tail. Same hash-threshold determinism as [[sampleStratified]]
    * (map-side, no RNG, oracle-replayable); the quality signal is
    * [[TextAnalysis.textQualityScore]]'s bucket, so the whole operator
    * is one projection pipeline over the corpus scan.
    */
  def sampleQualityWeighted(s: SparkSession, dir: String): DataFrame = {
    val tk = toks(col("text"))
    val en = TextAnalysis.Stop(0)._2
    val bucket = substring(
      md5(concat(lit("qw:"), col("doc_id").cast("string"))), 1, 4)
    val thr = QualityRates.foldLeft(lit("0000")) { case (acc, (q, t)) =>
      when(col("quality") === q, t).otherwise(acc)
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), size(tk).as("n_tokens"),
        (size(filter(tk, t => array_contains(array(en.map(lit): _*), t)))
          .cast("double") / size(tk).cast("double")).as("stop_ratio"))
      .withColumn("quality",
        when(col("n_tokens") >= 40 && col("stop_ratio") < 0.2, "good")
          .when(col("n_tokens") >= 15, "ok")
          .otherwise("low"))
      .withColumn("bucket", bucket)
      .filter(col("bucket") < thr)
      .select(col("doc_id"), col("quality"), col("bucket"))
      .orderBy("doc_id")
  }

  val sampleQualityWeightedSql: String = {
    val arr = TextAnalysis.Stop(0)._2.map(w => s"'$w'").mkString("[", ", ", "]")
    val thr = QualityRates
      .map { case (q, t) => s"WHEN quality = '$q' THEN '$t'" }
      .mkString("CASE ", " ", " ELSE '0000' END")
    s"""WITH f AS (
         SELECT doc_id, len(tk) AS n_tokens,
                CAST(len(list_filter(tk, t -> list_contains($arr, t))) AS DOUBLE)
                  / CAST(len(tk) AS DOUBLE) AS stop_ratio
         FROM (SELECT doc_id, ${sqlToks("text")} AS tk FROM documents)),
       q AS (
         SELECT doc_id,
           CASE WHEN n_tokens >= 40 AND stop_ratio < 0.2 THEN 'good'
                WHEN n_tokens >= 15 THEN 'ok' ELSE 'low' END AS quality,
           substr(md5('qw:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
         FROM f)
       SELECT doc_id, quality, bucket FROM q
       WHERE bucket < $thr ORDER BY doc_id"""
  }

  /** Sharded-export report: every document lands in a deterministic
    * shard (a uniform hex digit of its salted md5 — one digit = 16
    * shards; k digits would give 16^k), with per-shard doc and token
    * mass. Shards balance within sampling noise no matter how the
    * corpus is partitioned. This is the layout step before writing N
    * training files: at cluster scale the same expression feeds
    * `repartition(col("shard"))` + a partitioned write so each shard is
    * one task's single file ([[graft.sources.Warehouse]] alignment
    * rule). Hex digit -> int goes through a position lookup in the hex
    * alphabet — portable string arithmetic, no engine-specific hex
    * parsing.
    */
  def exportShards(s: SparkSession, dir: String): DataFrame = {
    val shard = expr(
      """CAST(locate(substring(md5(CONCAT('shard:', CAST(doc_id AS STRING))), 4, 1),
                     '0123456789abcdef') - 1 AS INT)""")
    Tables.documents(s, dir)
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("t"),
        shard.as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"))
      .orderBy("shard")
  }

  val exportShardsSql: String =
    s"""WITH t AS (SELECT doc_id,
                     CAST(len(${sqlToks("text")}) AS BIGINT) AS t,
                     CAST(strpos('0123456789abcdef',
                       substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1
                       AS INT) AS shard
                   FROM documents)
       SELECT shard, COUNT(*) AS n_docs, CAST(SUM(t) AS BIGINT) AS sum_tokens
       FROM t GROUP BY shard ORDER BY shard"""

  /** Z-order (Morton) clustering key + layout report — the lakehouse
    * data-layout primitive: interleaving the bits of two dimensions
    * makes one sort order serve range predicates on EITHER dimension
    * (each z-bucket covers a small rectangle in (customer, day) space,
    * so file-level min/max stats prune on both). Emitted as the
    * per-bucket extent report a compaction/OPTIMIZE job would consume;
    * the same `zkey` expression is what a writer would `sortWithinPartitions`
    * by. Pure integer bit arithmetic — map-side, portable, and exactly
    * what the scan planner's stats see.
    */
  private val ZBits = 16

  def zorderKey(s: SparkSession, dir: String): DataFrame = {
    val a = (col("o_custkey") % 65536L).cast("long")
    val b = datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
      .cast("long") % 65536L
    val zkey = graft.functions.Zorder.interleave(a, b, ZBits)
    Tables.orders(s, dir)
      .select(a.as("ca"), b.as("day"), zkey.as("zkey"))
      .groupBy(shiftright(col("zkey"), 18).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("ca")).as("min_cust"), max(col("ca")).as("max_cust"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"))
      .orderBy("zbucket")
  }

  val zorderKeySql: String = {
    val terms = (0 until ZBits).map { i =>
      s"(((ca >> $i) & 1) << ${2 * i}) + (((day >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH t AS (SELECT o_custkey % 65536 AS ca,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               % 65536 AS day
           FROM orders),
       z AS (SELECT ca, day, $terms AS zkey FROM t)
       SELECT zkey >> 18 AS zbucket, CAST(COUNT(*) AS BIGINT) AS n,
              min(ca) AS min_cust, max(ca) AS max_cust,
              min(day) AS min_day, max(day) AS max_day
       FROM z GROUP BY 1 ORDER BY zbucket"""
  }

  /** Negatives per anchor document. */
  val NNeg = 4

  /** Deterministic negative sampling for contrastive training pairs:
    * each anchor doc gets [[NNeg]] pseudo-random partner ids from a
    * multiplicative-hash ring over the dense id space (Knuth constant;
    * +1 wrap if the hash lands on the anchor itself). Pure map-side
    * projection — no join, no RNG: re-runs, retries, and partitionings
    * all draw the same negatives, and the oracle replays them
    * (hash-determinism is this suite's contract). The corpus count is
    * a driver scalar (1-row agg); at 100 TB negatives for a
    * non-dense/keyed corpus come from the same ring over
    * [[dataset_split_hash]]-style salted md5 order instead. (round 4)
    */
  def negativeSamples(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir).count()
    val nn = math.max(n, 1L)
    Tables.documents(s, dir).select(col("doc_id"))
      .select(col("doc_id"),
        explode(array((0 until NNeg).map(j => lit(j.toLong)): _*)).as("j"))
      // the multiply runs in DECIMAL(38,0) (the oracle's HUGEINT): a
      // BIGINT form would silently wrap in Spark for doc_id > ~3.4e9
      // while DuckDB errors/promotes — the engines would diverge on
      // exactly the id magnitudes a 100 TB corpus has
      .withColumn("raw",
        expr(s"CAST((CAST(doc_id AS DECIMAL(20,0)) * 2654435761" +
          s" + j * 40503) % ${nn}L AS BIGINT)"))
      .withColumn("neg_id",
        when(col("raw") === col("doc_id"),
          (col("raw") + 1) % lit(nn)).otherwise(col("raw")))
      .select(col("doc_id"), col("j"), col("neg_id"))
      .orderBy("doc_id", "j")
  }

  /** Negative sampling for a KEYED corpus — the route
    * [[negativeSamples]]'s Scaladoc promises for ids that are not dense
    * (string urls, uuid keys, gappy serials). Each document's ring
    * position is its dense rank in salted-md5 order, computed by
    * [[graft.functions.Keys.denseIds]]'s two-phase rank (range-bucket
    * row_number + bucket-count offsets — NOT a single-partition global
    * window), then the same multiplicative-hash ring walk as the dense
    * variant, and one equi-join position -> key to resolve each negative
    * back to its document. Cost at any scale: one range shuffle for the
    * rank, one hash join on a long — the fan-out itself stays map-side
    * and RNG-free, so retries and re-partitionings replay identically.
    * (round 4)
    */
  def negativeSamplesKeyed(s: SparkSession, dir: String): DataFrame = {
    val n = math.max(Tables.documents(s, dir).count(), 1L)
    val keyed = Tables.documents(s, dir).select(col("doc_id"),
      md5(concat(lit("ring:"), col("doc_id").cast("string"))).as("h"))
    val ranked = graft.functions.Keys
      .denseIds(keyed, Nil, Seq("h", "doc_id"), "rk")
      .select(col("doc_id"), (col("rk").cast("long") - 1L).as("pos"))
    val fan = ranked
      .select(col("doc_id"), col("pos"),
        explode(array((0 until NNeg).map(j => lit(j.toLong)): _*)).as("j"))
      // DECIMAL(38,0) multiply for the same overflow-portability reason
      // as [[negativeSamples]] (pos is dense but n itself can exceed
      // the BIGINT-safe multiplicand range at corpus scale)
      .withColumn("raw",
        expr(s"CAST((CAST(pos AS DECIMAL(20,0)) * 2654435761" +
          s" + j * 40503) % ${n}L AS BIGINT)"))
      .withColumn("neg_pos",
        when(col("raw") === col("pos"),
          (col("raw") + 1) % lit(n)).otherwise(col("raw")))
    val lookup = ranked.select(col("pos").as("neg_pos"),
      col("doc_id").as("neg_doc_id"))
    fan.join(lookup, "neg_pos")
      .select(col("doc_id"), col("j"), col("neg_doc_id"))
      .orderBy("doc_id", "j")
  }

  val negativeSamplesKeyedSql: String =
    s"""WITH ranked AS (
         SELECT doc_id,
                ROW_NUMBER() OVER (
                  ORDER BY md5('ring:' || CAST(doc_id AS VARCHAR)),
                           doc_id) - 1 AS pos
         FROM documents),
       n AS (SELECT COUNT(*) AS n FROM documents),
       fan AS (SELECT doc_id, pos, j,
                 CAST((CAST(pos AS HUGEINT) * 2654435761 + j * 40503)
                   % (SELECT n FROM n) AS BIGINT) AS raw
               FROM ranked CROSS JOIN
                 (SELECT unnest(range(0, $NNeg)) AS j) js),
       fixed AS (SELECT doc_id, j,
                   CASE WHEN raw = pos THEN (raw + 1) % (SELECT n FROM n)
                        ELSE raw END AS neg_pos
                 FROM fan)
       SELECT f.doc_id, f.j, r.doc_id AS neg_doc_id
       FROM fixed f JOIN ranked r ON r.pos = f.neg_pos
       ORDER BY 1, 2"""

  /** The contrastive TRAINING-PAIRS table itself — what
    * [[negativeSamples]] exists to feed: verified near-duplicates from
    * the shared LSH pipeline as positives (label 1, with their exact
    * Jaccard as a soft target), the hash-ring draws as negatives
    * (label 0). Pure composition of two already-scale-shaped stages —
    * the pair list is pair-cardinality, the ring is map-side — plus
    * one union; no new shuffle beyond what the parts already do. A
    * ring draw that collides with a true near-dup pair would be a
    * mislabeled negative: dropped by an anti-join against the
    * positives (canonical a<b orientation), bounded by the pair list.
    * (round 4)
    */
  def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val pos = Dedup.dedupMinhashLsh(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(1).as("label"),
        col("jac").as("weight"))
    val rawNeg = negativeSamples(s, dir)
      .select(least(col("doc_id"), col("neg_id")).as("doc_a"),
        greatest(col("doc_id"), col("neg_id")).as("doc_b"))
      .distinct()
    val neg = rawNeg.join(pos.select("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b"), lit(0).as("label"),
        lit(0.0).as("weight"))
    pos.unionByName(neg).orderBy("label", "doc_a", "doc_b")
  }

  // lazy: interpolates negativeSamplesSql, which initializes later in
  // this object
  lazy val contrastivePairsSql: String =
    s"""WITH pos AS (SELECT doc_a, doc_b, 1 AS label, jac AS weight
             FROM (${Dedup.dedupMinhashLshSql})),
       raw_neg AS (SELECT DISTINCT
               LEAST(doc_id, neg_id) AS doc_a,
               GREATEST(doc_id, neg_id) AS doc_b
             FROM ($negativeSamplesSql)),
       neg AS (SELECT r.doc_a, r.doc_b, 0 AS label, 0.0 AS weight
             FROM raw_neg r ANTI JOIN pos p
               ON r.doc_a = p.doc_a AND r.doc_b = p.doc_b)
       SELECT doc_a, doc_b, label, weight FROM pos
       UNION ALL
       SELECT doc_a, doc_b, label, weight FROM neg
       ORDER BY label, doc_a, doc_b"""

  val negativeSamplesSql: String =
    s"""WITH ids AS (SELECT doc_id FROM documents),
       n AS (SELECT COUNT(*) AS n FROM documents),
       fan AS (SELECT doc_id, j,
                 CAST((CAST(doc_id AS HUGEINT) * 2654435761 + j * 40503)
                   % (SELECT n FROM n) AS BIGINT) AS raw
               FROM ids CROSS JOIN
                 (SELECT unnest(range(0, $NNeg)) AS j) js)
       SELECT doc_id, j,
              CASE WHEN raw = doc_id THEN (raw + 1) % (SELECT n FROM n)
                   ELSE raw END AS neg_id
       FROM fan ORDER BY doc_id, j"""

  /** Cross-validation folds. */
  val KFolds = 5
  /** Fold boundaries as 16-bit hex thresholds (i * 2^16 / K): fold
    * assignment stays a pure hex-STRING range comparison — the same
    * engine-portable discipline as [[datasetSplitHash]] (no hex->int
    * conversion exists portably in both engines; range compare does).
    */
  private val FoldThr: Seq[String] =
    (1 until KFolds).map(i => f"${i * 0x10000 / KFolds}%04x")

  /** Deterministic k-fold assignment for cross-validation — the CV
    * sibling of [[datasetSplitHash]]: a doc's fold is a pure function
    * of its id (salted md5, distinct salt from the split's so folds
    * don't correlate with the train/test split), map-side only, no
    * shuffle, replayable anywhere. Near-uniform by hash uniformity;
    * the spec bounds the imbalance. (round 4)
    */
  def datasetKfold(s: SparkSession, dir: String): DataFrame = {
    val h = substring(
      md5(concat(lit("fold:"), col("doc_id").cast("string"))), 1, 4)
    // first-match CASE over the ordered thresholds
    val foldCase = FoldThr.zipWithIndex.reverse
      .foldLeft(lit(KFolds - 1): org.apache.spark.sql.Column) {
        case (els, (thr, i)) => when(h < thr, lit(i)).otherwise(els)
      }
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), foldCase.as("fold"))
      .orderBy("doc_id")
  }

  val datasetKfoldSql: String = {
    val h = "substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 4)"
    val cases = FoldThr.zipWithIndex
      .map { case (thr, i) => s"WHEN $h < '$thr' THEN $i" }
      .mkString(" ")
    s"""SELECT doc_id, lang,
              CASE $cases ELSE ${KFolds - 1} END AS fold
       FROM documents ORDER BY doc_id"""
  }

  def queries: Seq[Q] = Seq(
    Q("negative_samples", Some(negativeSamplesSql))(negativeSamples),
    Q("blocklist_filter", Some(blocklistFilterSql))(blocklistFilter),
    Q("ks_source_matrix", Some(ksSourceMatrixSql))(ksSourceMatrix),
    Q("quantile_normalize", Some(quantileNormalizeSql))(quantileNormalize),
    Q("dataset_kfold", Some(datasetKfoldSql))(datasetKfold),
    Q("negative_samples_keyed",
      Some(negativeSamplesKeyedSql))(negativeSamplesKeyed),
    Q("contrastive_pairs", Some(contrastivePairsSql))(contrastivePairs),
    Q("zorder_key", Some(zorderKeySql))(zorderKey),
    Q("sample_stratified", Some(sampleStratifiedSql))(sampleStratified),
    Q("sample_per_source_cap", Some(samplePerSourceCapSql))(samplePerSourceCap),
    Q("quality_filter_reasons", Some(qualityFilterReasonsSql))(qualityFilterReasons),
    Q("redact_digits", Some(redactDigitsSql))(redactDigits),
    Q("pack_sequences", Some(packSequencesSql))(packSequences),
    Q("sample_bottomk", Some(sampleBottomKSql))(sampleBottomK),
    Q("length_bucket_batches",
      Some(lengthBucketBatchesSql))(lengthBucketBatches),
    Q("curriculum_interleave",
      Some(curriculumInterleaveSql))(curriculumInterleave),
    Q("token_budget_mix", Some(tokenBudgetMixSql))(tokenBudgetMix),
    Q("source_mix_temperature", Some(sourceMixTemperatureSql))(sourceMixTemperature),
    Q("epoch_upsample", Some(epochUpsampleSql))(epochUpsample),
    Q("source_divergence_tv", Some(sourceDivergenceTvSql))(sourceDivergenceTv),
    Q("decontaminate_overlap", Some(decontaminateOverlapSql))(decontaminateOverlap),
    Q("dataset_split_hash", Some(datasetSplitHashSql))(datasetSplitHash),
    Q("sample_quality_weighted", Some(sampleQualityWeightedSql))(sampleQualityWeighted),
    Q("pii_redact_extended", Some(piiRedactExtendedSql))(piiRedactExtended),
    Q("span_corruption_plan", Some(spanCorruptionPlanSql))(spanCorruptionPlan),
    Q("dsir_weights", None)(dsirWeights),
    Q("export_shards", Some(exportShardsSql))(exportShards))
}
