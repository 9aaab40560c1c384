package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two distributed building blocks that replace a global window:
  * [[Keys.denseIds]] (dense surrogate keys) and [[Keys.prefixSums]]
  * (running sums, the spine of the rank statistics).
  *
  * The naive form — `row_number().over(Window.orderBy(value))` — moves
  * EVERY distinct value through one task ("No Partition Defined for
  * Window Operation"): harmless for an 8-value status dim, fatal for a
  * million-title dimension at warehouse scale. This helper produces the
  * identical numbering (dense 1-based rank in lexicographic order,
  * restarting per group) in two distributed phases:
  *
  *   1. range-partition the distinct values into `buckets` sorted
  *      ranges and rank WITHIN each bucket (a partitioned window — every
  *      bucket ranks in parallel);
  *   2. offset each bucket's local ranks by the total count of rows in
  *      lower buckets of the same group. The counts frame has at most
  *      `groups x buckets` rows — bounded by configuration, not data —
  *      so the prefix-sum is a broadcast self-join on that tiny frame,
  *      not a global window.
  *
  * Kept for groups with no size bound: registered keys and SCD2 dims
  * ([[graft.sources.Warehouse.upsertDimScd2]]). The loaders' dims, each
  * broadcast whole, rank in one task ([[graft.sources.Warehouse.numberDims]]).
  */
object Keys {

  /** Dense 1-based ids over `valueCols` in lexicographic order,
    * restarting at 1 per distinct `groupCols` tuple — semantically
    * `ROW_NUMBER() OVER (PARTITION BY groupCols ORDER BY valueCols)` —
    * without a single-partition global window.
    *
    * `distinctDf` must be distinct on (groupCols ++ valueCols) (ids are
    * ranks, so duplicate rows would collide); `groupCols` is expected to
    * be low-cardinality (dimension names), `valueCols` may be arbitrary
    * cardinality.
    */
  def denseIds(distinctDf: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String], idCol: String, buckets: Int = 32): DataFrame = {
    val orderCols = (groupCols ++ valueCols).map(col)
    val grp = groupCols.map(col)
    // Phase 1: sorted ranges -> per-bucket parallel rank. __pid is the
    // range-partition ordinal, so bucket i holds values strictly below
    // bucket i+1 (within a group) and per-bucket ranks + lower-bucket
    // counts reconstruct the global rank exactly.
    val parted = distinctDf
      .repartitionByRange(buckets, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy(grp :+ col("__pid"): _*)
      .orderBy(valueCols.map(col): _*)
    val local = parted.withColumn("__rn", row_number().over(wLocal))
    // Phase 2: bucket counts (<= groups x buckets rows) -> prefix sums
    // via a broadcast theta-self-join on the counts frame.
    val cnts = parted.groupBy(grp :+ col("__pid"): _*)
      .agg(count(lit(1)).as("__cnt"))
    val lower = cnts.select(
      groupCols.map(c => col(c).as(s"__g_$c")) ++
        Seq(col("__pid").as("__lo_pid"), col("__cnt").as("__lo_cnt")): _*)
    val sameGroupBelow = groupCols
      .map(c => col(c) === col(s"__g_$c"))
      .foldLeft(col("__lo_pid") < col("__pid"))(_ && _)
    val offs = cnts.join(broadcast(lower), sameGroupBelow, "left")
      .groupBy(grp :+ col("__pid"): _*)
      .agg(coalesce(sum(col("__lo_cnt")), lit(0L)).as("__off"))
      .select(groupCols.map(col) ++ Seq(col("__pid"), col("__off")): _*)
    local.join(broadcast(offs), groupCols :+ "__pid")
      .withColumn(idCol, (col("__off") + col("__rn")).cast("int"))
      .drop("__pid", "__rn", "__off")
  }

  /** Running sums of each BIGINT `measures` column along `order` within
    * each `groups` tuple — `SUM(m) OVER (PARTITION BY groups ORDER BY
    * order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)` — added as
    * `cum_<m>`, without a window over a whole group. A running count of
    * `lit(1L)` under a total order is `row_number`.
    *
    * Two phases, like [[denseIds]]: a window per (groups, bucket), plus
    * each bucket's offset — the totals of the group's lower buckets —
    * from an aggregates-only self-join of the per-bucket totals,
    * broadcast back. The caller keeps one condition: `bucket` never
    * decreases along `order` within a group. A bucket that scales with
    * the value range, not the row count, keeps the self-join tiny.
    */
  def prefixSums(df: DataFrame, groups: Seq[String], bucket: Column,
      order: Seq[Column], measures: Seq[String]): DataFrame = {
    val keys = groups :+ "__bk"
    val bucketed = df.withColumn("__bk", bucket)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = measures.map(m => sum(col(m)).as(s"__t_$m"))
    val bt = bucketed.groupBy(keys.map(col): _*).agg(totals.head, totals.tail: _*)
    val lower = groups.foldRight(col("y.__bk") < col("x.__bk"))((g, c) =>
      col(s"y.$g") === col(s"x.$g") && c)
    val offs = measures.map(m =>
      coalesce(sum(col(s"y.__t_$m")), lit(0L)).as(s"__off_$m"))
    val off = bt.as("x").join(bt.as("y"), lower, "left")
      .groupBy(keys.map(k => col(s"x.$k").as(k)): _*).agg(offs.head, offs.tail: _*)
    measures.foldLeft(bucketed)((d, m) => d.withColumn(s"__cw_$m", sum(col(m)).over(w)))
      .join(broadcast(off), keys)
      .select(df.columns.map(col) ++ measures.map(m =>
        (col(s"__cw_$m") + col(s"__off_$m")).as(s"cum_$m")): _*)
  }
}
