package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Keys.denseIds must equal ROW_NUMBER() OVER (PARTITION BY group
  * ORDER BY value) for any input — these pin the edges the oracle
  * queries don't reach (empty, single row, many buckets, cross-bucket
  * boundaries, grouped restart). Keys.prefixSums is checked against the
  * running SUM window it replaces.
  */
class KeysSpec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._

  test("empty input yields empty output") {
    val out = Keys.denseIds(Seq.empty[String].toDF("v"), Nil, Seq("v"), "id")
    assert(out.count() === 0)
    assert(out.columns.contains("id"))
  }

  test("single row gets id 1") {
    val out = Keys.denseIds(Seq("only").toDF("v"), Nil, Seq("v"), "id")
      .collect()
    assert(out.map(r => (r.getString(0), r.getInt(1))).toSeq ===
      Seq(("only", 1)))
  }

  test("ids are the global sorted rank across bucket boundaries") {
    // 100 values over 32 range buckets: every bucket boundary is an
    // opportunity for an off-by-one in the offset arithmetic
    val vals = (0 until 100).map(i => f"v$i%03d")
    val shuffled = new scala.util.Random(7).shuffle(vals)
    val out = Keys.denseIds(shuffled.toDF("v"), Nil, Seq("v"), "id")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    vals.zipWithIndex.foreach { case (v, i) =>
      assert(out(v) === i + 1, s"value $v")
    }
  }

  test("ids restart at 1 per group") {
    val df = Seq(("g1", "b"), ("g1", "a"), ("g2", "z"), ("g2", "a"),
      ("g3", "m")).toDF("g", "v")
    val out = Keys.denseIds(df, Seq("g"), Seq("v"), "id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    assert(out === Map(("g1", "a") -> 1, ("g1", "b") -> 2,
      ("g2", "a") -> 1, ("g2", "z") -> 2, ("g3", "m") -> 1))
  }

  test("multi-column values order lexicographically") {
    val df = Seq(("b", 1), ("a", 2), ("a", 1)).toDF("x", "y")
    val out = Keys.denseIds(df, Nil, Seq("x", "y"), "id")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2))
      .toMap
    assert(out === Map(("a", 1) -> 1, ("a", 2) -> 2, ("b", 1) -> 3))
  }

  test("fewer buckets than rows still ranks correctly") {
    val out = Keys.denseIds((1 to 10).map(i => f"k$i%02d").toDF("v"),
      Nil, Seq("v"), "id", buckets = 2)
      .agg(min(col("id")), max(col("id")), count(lit(1))).head
    assert((out.getInt(0), out.getInt(1), out.getLong(2)) === ((1, 10, 10L)))
  }

  test("prefixSums equals a running SUM window per group across empty and negative buckets") {
    // g1 fills buckets 0 and 2 with bucket 1 empty (g2 fills it: the
    // offsets must not leak across groups); g2 starts in bucket -2 and
    // carries negative values. k breaks the o tie, so the order is total
    // and the running count `one` is row_number.
    val df = Seq(
      ("g1", 1L, 1L, 5L, 10L), ("g1", 3L, 2L, -2L, 0L), ("g1", 3L, 3L, 7L, 1L),
      ("g1", 25L, 4L, 1L, -3L), ("g1", 27L, 5L, 4L, 2L),
      ("g2", -12L, 6L, -4L, 3L), ("g2", 14L, 7L, 6L, -1L), ("g2", 15L, 8L, -9L, 8L))
      .toDF("g", "o", "k", "m1", "m2").withColumn("one", lit(1L))
    val out = Keys.prefixSums(df, Seq("g"), floor(col("o") / 10),
      Seq(col("o"), col("k")), Seq("m1", "m2", "one"))
    assert(out.columns.toSeq === df.columns.toSeq ++ Seq("cum_m1", "cum_m2", "cum_one"))
    df.createOrReplaceTempView("keys_prefix_sums")
    def run(m: String) = s"SUM($m) OVER (PARTITION BY g ORDER BY o, k " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    val oracle = spark.sql(s"SELECT k, ${run("m1")}, ${run("m2")}, ${run("one")} " +
      "FROM keys_prefix_sums")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    val got = rows(out.select("k", "cum_m1", "cum_m2", "cum_one"))
    assert(got === rows(oracle))
    assert(got.map(_._4) === Seq(1L, 2L, 3L, 4L, 5L, 1L, 2L, 3L))
  }
}
