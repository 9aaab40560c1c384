package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution over short strings — the record-linkage layer the
  * dedup suite (long documents, MinHash) doesn't cover: catalog-style
  * names matched by BLOCKING + an exact edit-distance verifier, then
  * collapsed to canonical entities. The reference normalizes titles and
  * companies by lower/trim before get-or-create
  * (insert_to_postgres.py:60-84); this is the next step a real catalog
  * needs when "blue bolt" and "blue rod" are variant listings of one
  * product family.
  *
  * The scale shape is the dedup tier's: never all-pairs. Candidates
  * come from an equi-join on a block key (first name token here;
  * phonetic keys or q-gram LSH for messier names), so the verifier's
  * O(len²) Levenshtein runs only inside blocks. Levenshtein is integer
  * and identically defined in both engines — hash-gateable where
  * similarity doubles would not be.
  */
object EntityRes {

  /** Max edit distance admitted as a match. */
  val MaxDist = 3

  /** Blocked fuzzy match over distinct entity names: block on the
    * first token, verify Levenshtein <= [[MaxDist]], canonical a < b
    * ordering. The distinct-names frame is entity-cardinality (not
    * row-cardinality): dedup first, then match — at 100 TB the match
    * cost is per-entity, however many fact rows mention each name.
    */
  def erBlockingMatch(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.part(s, dir).select(col("p_name")).distinct()
      .select(col("p_name"),
        split(col("p_name"), " ").getItem(0).as("blk"))
    n.select(col("p_name").as("name_a"), col("blk"))
      .join(n.select(col("p_name").as("name_b"), col("blk")), Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= MaxDist)
      .select(col("name_a"), col("name_b"), col("dist"))
      .orderBy("name_a", "name_b")
  }

  val erBlockingMatchSql: String =
    s"""WITH n AS (SELECT DISTINCT p_name,
                     split_part(p_name, ' ', 1) AS blk
                   FROM part),
       m AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
             FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name)
       SELECT name_a, name_b, dist FROM m
       WHERE dist <= $MaxDist
       ORDER BY name_a, name_b"""

  /** Canonical entity assignment: connected components over the match
    * graph (min-name label propagation to convergence, lineage cut per
    * round — [[Graph.minLabelComponents]], seeded with every name, at entity
    * cardinality), every name mapped to its cluster's minimum as the
    * canonical form. Names with no fuzzy match stay their own
    * canonical. Output also carries the listing count behind each
    * name, so the canonical entity's mass is one GROUP BY away.
    */
  def erCanonicalEntity(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_listings"))
    val pairs = erBlockingMatch(s, dir).select(col("name_a"), col("name_b"))
    val edges = Graph.bothWays(pairs).localCheckpoint(true)
    val labels = Graph.minLabelComponents(edges,
      names.select(col("p_name").as("v")))
    names.join(labels, names("p_name") === labels("v"))
      .select(col("p_name").as("name"), col("l").as("canonical"),
        (col("p_name") === col("l")).as("is_canonical"),
        col("n_listings"))
      .orderBy("name")
  }

  val erCanonicalEntitySql: String =
    s"""WITH RECURSIVE names AS (SELECT p_name, COUNT(*) AS n_listings
                                 FROM part GROUP BY p_name),
       pairs AS (SELECT name_a, name_b FROM ($erBlockingMatchSql)),
       edges AS (SELECT name_a AS a, name_b AS b FROM pairs
                 UNION SELECT name_b, name_a FROM pairs),
       reach(v, l) AS (
         SELECT p_name, p_name FROM names
         UNION
         SELECT e.b, r.l FROM reach r JOIN edges e ON r.v = e.a)
       SELECT n.p_name AS name, MIN(r.l) AS canonical,
              (n.p_name = MIN(r.l)) AS is_canonical,
              MAX(n.n_listings) AS n_listings
       FROM names n JOIN reach r ON n.p_name = r.v
       GROUP BY n.p_name ORDER BY name"""

  def queries: Seq[Q] = Seq(
    Q("er_blocking_match", Some(erBlockingMatchSql))(erBlockingMatch),
    Q("er_canonical_entity", Some(erCanonicalEntitySql))(erCanonicalEntity))
}
