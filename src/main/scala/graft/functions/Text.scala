package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-processing column functions: tokenization, shingling, portable
  * hashing. Everything here is a pure projection built from
  * `org.apache.spark.sql.functions` higher-order array functions — no
  * UDFs, fully codegen-able, and every hash is md5-over-string so the
  * DuckDB oracle computes bit-identical values (SURVEY.md §5).
  *
  * Pseudo-randomness (MinHash permutations, SimHash bit sources, LSH
  * hyperplanes) is always derived from md5 of a deterministic string —
  * identical in any engine with a standard md5, which is what makes these
  * operators portable AND reproducible across cluster re-runs at scale.
  */
object Text {

  /** whitespace tokens, empties dropped (both engines must filter empties
    * — Spark's split keeps trailing "" in edge cases, DuckDB's doesn't).
    */
  def toks(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  /** SQL twin of [[toks]] as a DuckDB expression over `text`. */
  def sqlToks(textExpr: String): String =
    s"list_filter(regexp_split_to_array($textExpr, '\\s+'), t -> t <> '')"

  /** Sliding word k-grams joined by single spaces. Docs shorter than k
    * tokens yield one whole-doc shingle (slice clamps in both engines).
    * Pure per-row array work: the (doc, shingle) blow-up only happens
    * after projecting to (id, tokens), never on the full row.
    *
    * Backed by the codegen'd [[graft.plans.WordShingles]] expression
    * (registered by Graft.tune); [[wordShinglesHof]] is the composable
    * twin used to cross-check equivalence in specs.
    */
  def wordShingles(tokens: Column, k: Int): Column =
    call_function(graft.plans.WordShingles.FnName, tokens, lit(k))

  /** The pure-`functions._` formulation of [[wordShingles]] — three
    * nested higher-order functions, interpreted; kept as the spec
    * cross-check oracle for the native expression.
    */
  def wordShinglesHof(tokens: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(size(tokens) - lit(k - 1), lit(1))),
      i => array_join(slice(tokens, i, lit(k)), " "))

  /** DuckDB CTE producing DISTINCT (doc_id, sh) word-k-gram rows from
    * `documents`. Mirrors [[wordShingles]] via lockstep unnest.
    */
  def sqlShingleRows(k: Int): String =
    s"""SELECT DISTINCT doc_id, array_to_string(tk[i:i+${k - 1}], ' ') AS sh
        FROM (SELECT doc_id, tk,
                unnest(generate_series(1, greatest(len(tk) - ${k - 1}, 1))) AS i
              FROM (SELECT doc_id, ${sqlToks("text")} AS tk FROM documents))"""

  /** Sliding char n-grams of `text`. Backed by the codegen'd
    * [[graft.plans.CharShingles]] expression; [[charShinglesHof]] is
    * the composable twin used to cross-check equivalence in specs.
    */
  def charShingles(text: Column, n: Int): Column =
    call_function(graft.plans.CharShingles.FnName, text, lit(n))

  /** The pure-`functions._` formulation of [[charShingles]] —
    * interpreted HOF chain, kept as the spec cross-check oracle.
    */
  def charShinglesHof(text: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(length(text) - lit(n - 1), lit(1))),
      i => substr(text, i, lit(n)))

  /** DuckDB CTE: DISTINCT (doc_id, sh) char-n-gram rows from documents. */
  def sqlCharShingleRows(n: Int): String =
    s"""SELECT DISTINCT doc_id, substr(text, i, $n) AS sh
        FROM (SELECT doc_id, text,
                unnest(generate_series(1, greatest(length(text) - ${n - 1}, 1))) AS i
              FROM documents)"""

  /** MinHash signature: element i = min over shingles of
    * md5("<i>:" + shingle). Min over lowercase-hex strings is a portable
    * total order; k salted mins approximate a k-permutation MinHash
    * (SURVEY.md §2F). All map-side: one array expr per row.
    */
  def minhash(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingles,
        sh => md5(concat(i.cast("string"), lit(":"), sh)))))
}
