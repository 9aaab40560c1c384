package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skill-NER surface — the reference's skillner stage
  * (/root/reference/skillner/skillner_logic.py: spaCy PhraseMatcher over a
  * skill DB, full matches + n-gram scored matches, hard/soft typing,
  * per-offer dedup) re-expressed as distributed phrase matching:
  * tokenize -> equi-join tokens (and adjacent-token bigrams) against a
  * broadcast vocabulary. No Python, no per-row NLP object: the match is a
  * broadcast hash join that scales with corpus size, and the vocabulary
  * (like the reference's SKILL_DB) is small by construction.
  */
object SkillExtract {

  /** The engine's stand-in for skillner's SKILL_DB: (skill, type). Terms
    * chosen from the synthetic documents' vocabulary; unigrams and
    * bigrams exercise both match paths.
    */
  val vocab: Seq[(String, String, Int)] = Seq(
    ("spark", "hard", 1), ("hash", "hard", 2), ("join", "hard", 3),
    ("filter", "hard", 4), ("window", "hard", 5), ("stream", "hard", 6),
    ("vector", "hard", 7), ("merge", "hard", 8), ("sort", "hard", 9),
    ("scan", "hard", 10), ("query", "hard", 11), ("batch", "hard", 12),
    ("fast", "soft", 13), ("slow", "soft", 14), ("small", "soft", 15),
    ("hash join", "hard", 16), ("sort merge", "hard", 17),
    ("table scan", "hard", 18), ("window merge", "hard", 19))

  def vocabDf(s: SparkSession): DataFrame = {
    import s.implicits._
    vocab.toDF("skill", "skill_type", "skill_id")
  }

  val vocabSql: String = vocab
    .map { case (sk, ty, id) => s"('$sk', '$ty', $id)" }
    .mkString("SELECT * FROM (VALUES ", ", ", ") AS v(skill, skill_type, skill_id)")

  private val tokensSql: String =
    """SELECT doc_id, unnest(toks) AS token,
              unnest(generate_series(0, len(toks) - 1)) AS i
       FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
             FROM documents)"""

  /** Phrase-match extraction: unigram matches plus adjacent-token bigram
    * matches (skillner's full_matches), deduped per document (skillner
    * add_skill dedup, skillner_logic.py:69-80).
    *
    * Bigrams are built array-side with zip_with BEFORE exploding — pure
    * map work, no positional self-join — so the only shuffle is the final
    * distinct. The oracle SQL uses an equivalent positional self-join
    * (clarity over speed is fine for the oracle).
    */
  private def phraseMatches(s: SparkSession, dir: String): DataFrame =
    phraseMatchStream(s, dir).distinct()

  /** skillner's full-match terms of a token array: the tokens plus
    * each adjacent-token bigram ("a b"). */
  def terms(toks: Column): Column = {
    val bigrams = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (x, y) => concat(x, lit(" "), y)))
      .otherwise(array().cast("array<string>"))
    concat(toks, bigrams)
  }

  /** The PRE-dedup match stream (one row per occurrence) — map-side
    * only: tokenize + broadcast vocabulary join, no shuffle. Exposed to
    * consumers whose own aggregation dedups anyway (collect_set in
    * [[TextAnalysis.skillCooccurrence]]'s basket agg), so they skip the
    * distinct's exchange and their map-side partials compact each
    * document's occurrences to its ≤|vocab| distinct matches before
    * anything shuffles (round 15, guide §2.3).
    */
  private[operators] def phraseMatchStream(s: SparkSession,
      dir: String): DataFrame = {
    val v = broadcast(vocabDf(s))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(terms(split(col("text"), "\\s+"))).as("term"))
      .join(v, col("term") === v("skill"))
      .select(col("doc_id"), col("skill"), col("skill_type"), col("skill_id"))
  }

  def skillExtractPhrase(s: SparkSession, dir: String): DataFrame =
    phraseMatches(s, dir).orderBy("doc_id", "skill_id")

  val skillExtractPhraseSql: String =
    s"""WITH toks AS ($tokensSql),
         uni AS (
           SELECT doc_id, skill, skill_type, skill_id
           FROM toks JOIN ($vocabSql) v ON toks.token = v.skill),
         bi AS (
           SELECT a.doc_id, v.skill, v.skill_type, v.skill_id
           FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.i + 1 = b.i
           JOIN ($vocabSql) v ON a.token || ' ' || b.token = v.skill)
       SELECT DISTINCT doc_id, skill, skill_type, skill_id
       FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
       ORDER BY doc_id, skill_id"""

  /** Admission threshold for scored partial matches: at least half of a
    * multi-word skill's tokens must appear in the document (the skillner
    * library's compatibility-score gate).
    */
  val ScoredTau = 0.5

  /** Scored partial (n-gram) matching — skillner's `ngram_scored`
    * results (skillner_logic.py:104-107): a multi-word vocabulary entry
    * is admitted when >= ScoredTau of its tokens appear ANYWHERE in the
    * document ("Apache Spark experience" matches vocab "spark sql" at
    * 0.5 even though the full phrase never occurs). Contiguous full
    * matches are excluded — they are the separate `full_matches` path
    * ([[skillExtractPhrase]]).
    *
    * Shape: explode doc tokens -> broadcast-join the (tiny) exploded
    * vocabulary tokens -> distinct (only MATCHING tokens survive to the
    * shuffle) -> per-(doc, skill) count -> score filter -> anti-join
    * full matches. Linear in corpus size; score = n_match/n_total is a
    * small-integer ratio, bit-identical across engines.
    */
  def skillExtractNgramScored(s: SparkSession, dir: String): DataFrame = {
    val vMulti = vocabDf(s)
      .withColumn("vts", split(col("skill"), " "))
      .filter(size(col("vts")) >= 2)
      .select(col("skill"), col("skill_type"), col("skill_id"),
        size(col("vts")).as("n_total"), explode(col("vts")).as("vt"))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val scored = toks.join(broadcast(vMulti), col("token") === col("vt"))
      .select("doc_id", "skill_id", "skill", "skill_type", "n_total", "vt")
      .distinct()
      .groupBy("doc_id", "skill_id", "skill", "skill_type", "n_total")
      .agg(count(lit(1)).as("n_match"))
      .withColumn("score",
        col("n_match").cast("double") / col("n_total").cast("double"))
      .filter(col("score") >= ScoredTau)
    scored.join(phraseMatches(s, dir).select("doc_id", "skill_id"),
        Seq("doc_id", "skill_id"), "left_anti")
      .select("doc_id", "skill_id", "skill", "skill_type", "score")
      .orderBy("doc_id", "skill_id")
  }

  val skillExtractNgramScoredSql: String =
    s"""WITH full_m AS ($skillExtractPhraseSql),
       vtoks AS (SELECT skill_id, skill, skill_type,
                   len(regexp_split_to_array(skill, ' ')) AS n_total,
                   unnest(regexp_split_to_array(skill, ' ')) AS vt
                 FROM ($vocabSql)
                 WHERE len(regexp_split_to_array(skill, ' ')) >= 2),
       toks AS ($tokensSql),
       hits AS (SELECT DISTINCT doc_id, skill_id, skill, skill_type, n_total, vt
                FROM toks JOIN vtoks ON toks.token = vtoks.vt),
       scored AS (SELECT doc_id, skill_id, skill, skill_type,
                    (CAST(COUNT(*) AS DOUBLE) / CAST(n_total AS DOUBLE)) AS score
                  FROM hits
                  GROUP BY doc_id, skill_id, skill, skill_type, n_total)
       SELECT doc_id, skill_id, skill, skill_type, score
       FROM scored s
       WHERE score >= $ScoredTau
         AND NOT EXISTS (SELECT 1 FROM full_m f
                         WHERE f.doc_id = s.doc_id AND f.skill_id = s.skill_id)
       ORDER BY doc_id, skill_id"""

  /** Hard/soft typing rollup (the reference splits skills into
    * hard_skills/soft_skills arrays; transform_job.py:145-163).
    */
  def skillTypeSplit(s: SparkSession, dir: String): DataFrame =
    skillExtractPhrase(s, dir)
      .groupBy("skill_type", "skill")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("skill_type", "skill")

  val skillTypeSplitSql: String =
    s"""WITH matches AS ($skillExtractPhraseSql)
       SELECT skill_type, skill, COUNT(DISTINCT doc_id) AS n_docs
       FROM matches GROUP BY 1, 2 ORDER BY 1, 2"""

  def queries: Seq[Q] = Seq(
    Q("skill_extract_phrase", Some(skillExtractPhraseSql), bench = true)(skillExtractPhrase),
    Q("skill_extract_ngram_scored", Some(skillExtractNgramScoredSql))(skillExtractNgramScored),
    Q("skill_type_split", Some(skillTypeSplitSql))(skillTypeSplit))
}
