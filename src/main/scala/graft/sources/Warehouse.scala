package graft.sources

import java.util.Properties

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse sink — the reference loads its star schema into Postgres
  * row-by-row (insert_to_postgres.py `get_or_create` + INSERT per fact).
  * The Spark-native load is a partitioned columnar write; a JDBC
  * warehouse takes the exact same frames via [[writeJdbc]] (the shaping
  * below — partition alignment, file sizing — is what matters at scale,
  * not the wire format).
  */
object Warehouse {

  /** Write a fact table partitioned by a derived date column.
    *
    * Scale mechanics: `repartition(partition cols)` aligns shuffle
    * partitions with output partitions so every Hive partition is
    * written by ONE task — without it, every task writes a sliver of
    * every partition and a 1000-executor job emits millions of tiny
    * files. `sortWithinPartitions` on the clustering key gives parquet
    * row-group locality for key lookups.
    */
  def writeFactPartitioned(fact: DataFrame, path: String,
      partitionCol: String, clusterCol: String): Unit =
    fact
      .repartition(col(partitionCol))
      .sortWithinPartitions(clusterCol)
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Write a small dimension as a single file (dims broadcast on read;
    * one file avoids pointless parallel-read overhead).
    */
  def writeDim(dim: DataFrame, path: String): Unit =
    dim.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** Write a table bucketed + sorted by its join/aggregation key.
    *
    * Bucketing is the 100 TB shuffle eliminator: two tables bucketed by
    * the same key into the same bucket count join bucket-to-bucket with
    * NO Exchange on either side — the shuffle is paid ONCE at write
    * time instead of on every downstream join/groupBy. For a fact table
    * joined on its key by every dashboard query, this converts the
    * cluster's dominant recurring cost into a one-time layout cost.
    * `sortBy` additionally gives sorted bucket files, so the merge join
    * needs no sort either (one file per bucket per writing task).
    *
    * Registered through the session catalog (`saveAsTable`) because
    * bucket metadata lives in the catalog, not the parquet files; plain
    * `.parquet(path)` readers see normal files and ignore bucketing.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, path: Option[String] = None): Unit = {
    val w = df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** The parquet table at `path`, or None when nothing exists there.
    * Only a missing path means "no table yet": a table that exists but
    * cannot be read fails with its path, because the callers would
    * otherwise start it over and lose what it holds.
    */
  private def readIfExists(s: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)) None
    else try Some(s.read.parquet(path)) catch {
      case NonFatal(e) =>
        throw new java.io.IOException(s"cannot read the table at $path", e)
    }
  }

  /** A table of a stacked get-or-create: its `dim` label, its path, and
    * its columns as (stacked, table) names — values, then `id`.
    */
  final case class DimTable(dim: String, path: String,
      cols: Seq[(String, String)]) {
    def read(s: SparkSession): Option[DataFrame] = readIfExists(s, path)
      .map(_.select(lit(dim).as("dim") +:
        cols.map { case (st, t) => col(t).as(st) }: _*))
    /** This table's rows of the stacked `ids`, freshly aliased so that
      * dims split from one frame can be joined in one plan. */
    def rows(ids: DataFrame): DataFrame = ids.filter(col("dim") === dim)
      .select(cols.map { case (st, t) => col(st).as(t) }: _*)
  }

  /** Get-or-create ids for dims stacked in one frame — the reference's
    * per-row `get_or_create` (insert_to_postgres.py:60-84) set-based, in
    * ONE exchange by `dim`: the load's `values` (duplicates allowed) are
    * grouped with the stored (dim, valueCols…, id). A stored value keeps
    * its id; new ones are numbered in sorted order after their dim's max
    * id and take each attribute's min over their rows. Returns one row per
    * value, new ones with `fresh` true. ONE task numbers each dim: the
    * loaders broadcast every dim whole (`Pipeline.facts`, `bridge`), so a
    * dim too large for one task fails loudly in that broadcast first. */
  def numberDims(values: DataFrame, valueCols: Seq[String],
      existing: Option[DataFrame]): DataFrame = {
    val loaded = values.withColumn("id", lit(null).cast("int"))
    val stored = max(col("id"))
    val grouped = existing.fold(loaded)(_.unionByName(loaded, allowMissingColumns = true))
      .repartition(col("dim")).groupBy("dim", valueCols: _*)
      .agg(stored.as("id"), values.columns.diff("dim" +: valueCols).toSeq
        .map(a => when(stored.isNull, min(col(a))).as(a)): _*)
      .withColumn("fresh", col("id").isNull)
    val rank = row_number().over(Window.partitionBy(col("dim"), col("fresh"))
      .orderBy(valueCols.map(col): _*))
    grouped.withColumn("id", coalesce(col("id"),
      coalesce(max(col("id")).over(Window.partitionBy("dim")), lit(0)) + rank))
  }

  /** Incremental get-or-create for the parquet dims `tables`, as
    * [[graft.operators.Pipeline.inSteps]] steps: each table is read by a
    * step of its own, started before `values` is evaluated, so the reads
    * overlap whatever `values` waits for; [[numberDims]] runs once (its
    * result put through `keep`); and each table that gained values is
    * appended, one file each, by a step of its own (the first append
    * creates a table). Returns the numbered frame once every append has
    * ended.
    */
  def upsertDims(values: => DataFrame, valueCols: Seq[String],
      tables: Seq[DimTable], keep: DataFrame => DataFrame): DataFrame =
    graft.operators.Pipeline.inSteps { step =>
      val s = SparkSession.active
      val stored = tables.map(t => step(t.read(s)))
      val ids = keep(numberDims(values, valueCols, stored.flatMap(_())
        .reduceOption(_.unionByName(_, allowMissingColumns = true))))
      val added = ids.filter(col("fresh"))
      val grown = added.select("dim").collect().map(_.getString(0)).toSet
      tables.filter(t => grown(t.dim)).foreach(t =>
        step(t.rows(added).coalesce(1).write.mode(SaveMode.Append).parquet(t.path)))
      ids
    }

  /** Bloom-accelerated DEDUP-APPEND sink: append only rows whose key
    * has never been stored, maintaining a [[graft.plans.BloomFilter]]
    * blob next to the data so the history check starts map-side.
    *
    * The naive incremental dedup anti-joins every batch against the
    * FULL accumulated key set — a shuffle that grows with history. The
    * store's bloom blob (one row, OR-merged across appends) probes the
    * batch first: rows whose key misses the bloom are DEFINITELY new
    * (no false negatives) and skip the join entirely; only the maybe-
    * seen candidates — true repeats plus the fp tail sized by
    * log2bits — anti-join against the exact key store. At 100 TB the
    * exact join's probe side shrinks from |batch| to |repeats| + fp,
    * while correctness stays exact because the bloom only ROUTES rows,
    * never decides membership. Returns the appended (novel) frame.
    */
  def dedupAppend(batch: DataFrame, path: String, keyCol: String): DataFrame = {
    val s = batch.sparkSession
    // Deterministic within-batch survivor: first-writer-wins must not
    // depend on partition order (a retry of the same batch has to keep
    // the same payload), so the survivor is the row_number-1 row under
    // a total order of the non-key columns — never dropDuplicates'
    // arbitrary pick.
    val tiebreak = batch.columns.filterNot(_ == keyCol).map(col).toSeq
    val ord = if (tiebreak.nonEmpty) tiebreak else Seq(col(keyCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(ord: _*)
    val incoming = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val dataPath = s"$path/data"
    val bloomPath = s"$path/bloom"
    val bloomOf = (df: DataFrame) => df.agg(
      expr(s"graft_bloom_agg(CAST($keyCol AS STRING), 20)").as("bf"))
    // Write ORDER is the crash-safety contract: the bloom blob commits
    // BEFORE its rows. A crash between the writes then leaves the bloom
    // a SUPERSET of stored keys — safe, because the bloom only ROUTES
    // (false positives just send rows through the exact anti-join). The
    // opposite order would leave stored keys missing from the bloom; on
    // retry those keys probe definitely-new, skip the exact join, and
    // append duplicates — silently breaking exactly-once.
    readIfExists(s, dataPath) match {
      case None =>
        val mat = incoming.localCheckpoint(true)
        bloomOf(mat).write.mode(SaveMode.Overwrite).parquet(bloomPath)
        mat.write.mode(SaveMode.Overwrite).parquet(dataPath)
        s.read.parquet(dataPath)
      case Some(existing) =>
        val bloom = s.read.parquet(bloomPath)
        val routed = incoming.join(broadcast(bloom))
          .withColumn("__maybe",
            expr(s"graft_bloom_contains(bf, CAST($keyCol AS STRING))"))
        // definitely-new rows skip the history join entirely
        val fresh = routed.filter(!col("__maybe")).drop("bf", "__maybe")
        val candidates = routed.filter(col("__maybe")).drop("bf", "__maybe")
        // materialize before mutating the store: the lazy plan reads
        // the bloom and data files the writes below replace
        val novel = fresh.unionByName(
          candidates.join(existing.select(keyCol), Seq(keyCol), "left_anti"))
          .localCheckpoint(true)
        // fold the batch's keys into the stored blob (OR-merge). The
        // merged blob is a scalar-sized artifact (128 KiB) — collect
        // it rather than self-overwriting the path it is read from
        val blob = bloom.unionByName(bloomOf(incoming))
          .agg(expr("graft_bloom_merge(bf)").as("bf"))
          .head.getAs[Array[Byte]](0)
        import s.implicits._
        Seq(blob).toDF("bf")
          .write.mode(SaveMode.Overwrite).parquet(bloomPath)
        novel.write.mode(SaveMode.Append).parquet(dataPath)
        novel
    }
  }

  /** Load a frame into a JDBC warehouse — the reference's
    * insert_to_postgres.py role, but set-based: each partition streams
    * its rows over one connection in `batchsize` batches instead of a
    * driver-side INSERT per row. `numPartitions` caps concurrent
    * connections (at cluster scale the warehouse, not Spark, is the
    * bottleneck — don't open 1000 connections).
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: Properties = new Properties(), numPartitions: Int = 8,
      batchSize: Int = 10000): Unit =
    df.coalesce(numPartitions)
      .write
      .mode(SaveMode.Overwrite)
      .option("batchsize", batchSize.toLong)
      .jdbc(url, table, props)

  /** Exactly-once STREAMING publish to a JDBC warehouse — the
    * reference's Postgres load (insert_to_postgres.py) as a
    * foreachBatch sink. Structured Streaming replays a micro-batch
    * after a crash with the SAME batchId, so idempotence is keyed on
    * it: retract any rows of this batch (a partial previous attempt),
    * then append the batch stamped with its id. Whatever point the
    * previous attempt died at, the converged state is exactly one copy
    * of every batch — the DELETE+append pair is the set-based twin of
    * the reference's PK-conflict INSERT, but batch-granular and
    * replay-driven rather than row-by-row. (round 5)
    *
    * The retract is one key-indexed DELETE on the warehouse (cheap —
    * batch_id is the natural load-partition key there); the append
    * streams partition-parallel like [[writeJdbc]].
    */
  def publishJdbcIdempotent(df: DataFrame, url: String, table: String,
      batchId: Long, props: Properties = new Properties(),
      numPartitions: Int = 8, batchSize: Int = 10000): Unit = {
    Option(props.getProperty("driver")).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // Identifier-case trap: Spark's JDBC writer passes the TABLE name
      // unquoted (the warehouse case-folds it — Derby/Postgres store
      // FACT_X / fact_x) but creates COLUMNS quoted (case-exact
      // "batch_id"). The retract resolves the stored table name from
      // the catalog case-insensitively and quotes both identifiers
      // exactly. Probing the catalog instead of swallowing exceptions
      // matters: the first publish ever has no table (the append below
      // creates it), but once it exists a failed DELETE must fail the
      // batch, not leak duplicates.
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      var stored: Option[String] = None
      while (rs.next() && stored.isEmpty) {
        val n = rs.getString(3)
        if (n != null && n.equalsIgnoreCase(table)) stored = Some(n)
      }
      rs.close()
      stored.foreach { t =>
        val st = conn.createStatement()
        try st.executeUpdate(
          s"""DELETE FROM "$t" WHERE "batch_id" = $batchId""")
        finally st.close()
      }
    } finally conn.close()
    df.withColumn("batch_id", lit(batchId))
      .coalesce(numPartitions)
      .write
      .mode(SaveMode.Append)
      .option("batchsize", batchSize.toLong)
      .jdbc(url, table, props)
  }

  /** Read a warehouse table back (round-trip verification and
    * dimension lookups).
    */
  def readJdbc(s: SparkSession, url: String, table: String,
      props: Properties = new Properties()): DataFrame =
    s.read.jdbc(url, table, props)

  /** TYPE-2 slowly-changing dimension upsert — the history-keeping
    * sibling of [[upsertDims]]'s type-1 get-or-create (the reference
    * overwrites dim attributes in place; a type-2 dim is what lets a
    * fact row join the attributes that were TRUE AT LOAD TIME —
    * Kimball's SCD2). Each natural key carries versioned rows
    * `(idCol, naturalKey, attrs..., valid_from, valid_to, is_current)`;
    * per batch at `batchTs`:
    *   - unseen natural key → one new OPEN row (fresh surrogate id);
    *   - attribute change → the current row CLOSES (valid_to =
    *     batchTs, is_current = false) and a new open row appends;
    *   - identical attributes → untouched (a replayed batch is a
    *     no-op, so the sink is idempotent per (batch, ts)).
    *
    * The dim lives in a [[ManifestLog]] table keyed by the surrogate
    * id, and the whole batch lands as ONE [[ManifestLog.merge]] commit
    * (closures are id-matched updates, new versions are id-unmatched
    * inserts) — atomic, time-travelable, and the commit's change feed
    * is exactly the SCD2 delta. Surrogate ids stay dense via
    * [[graft.functions.Keys.denseIds]] offset past the stored maximum.
    * Scale: the merge rewrites only id-bearing files (manifest-pruned);
    * everything else is batch-cardinality. Returns the new version.
    */
  def upsertDimScd2(batch: DataFrame, path: String, naturalKey: String,
      idCol: String, batchTs: Long): Long = {
    val s = batch.sparkSession
    val attrCols = batch.columns.filterNot(_ == naturalKey).toSeq
    val incoming = batch.dropDuplicates(naturalKey)
    val existing =
      if (ManifestLog.currentVersion(s, path) == 0L) None
      else Some(ManifestLog.snapshot(s, path))
    val current = existing.map(_.filter(col("is_current")))
    val attrsEqual = attrCols
      .map(c => col(c) <=> col(s"__new_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val renamed = incoming.select(
      col(naturalKey).as("__new_key") +:
        attrCols.map(c => col(c).as(s"__new_$c")): _*)
    // rows whose attributes CHANGED: close them at batchTs
    val closures = current.map(_
      .join(renamed, col(naturalKey) === col("__new_key"))
      .filter(!attrsEqual)
      .select(Seq(col(idCol), col(naturalKey)) ++
        attrCols.map(col) ++ Seq(col("valid_from"),
          lit(batchTs).as("valid_to"), lit(false).as("is_current")): _*))
    // natural keys needing a fresh OPEN row: new keys + changed keys
    val openKeys = current match {
      case None => incoming
      case Some(cur) =>
        val unchanged = cur.select(col(naturalKey).as("__new_key") +:
          attrCols.map(c => col(c).as(s"__new_$c")): _*)
        incoming.join(unchanged,
          col(naturalKey) === col("__new_key") && attrsEqual, "left_anti")
    }
    val maxId = existing.map(_.agg(max(col(idCol)))
      .head.getAs[java.lang.Long](0)).map(Option(_)).flatten
      .map(_.longValue).getOrElse(0L)
    val opened = graft.functions.Keys
      .denseIds(openKeys, Nil, naturalKey +: attrCols, idCol)
      .withColumn(idCol, col(idCol).cast("long") + maxId)
      .select(Seq(col(idCol), col(naturalKey)) ++
        attrCols.map(col) ++ Seq(lit(batchTs).as("valid_from"),
          lit(null).cast("long").as("valid_to"),
          lit(true).as("is_current")): _*)
    val delta = closures.fold(opened)(_.unionByName(opened))
    if (delta.isEmpty) ManifestLog.currentVersion(s, path)
    else ManifestLog.merge(delta, path, idCol)
  }

  /** SCD2 soft-DELETE — the delete half of a CDF-driven SCD2 mirror
    * ([[upsertDimScd2]] handles inserts and updates; a source DELETE
    * must CLOSE the key's current row, never drop its history —
    * Kimball's type-2 delete): every natural key in `keys` with a
    * current row closes at `batchTs` (valid_to = batchTs, is_current =
    * false), landing as one [[ManifestLog.merge]] commit of id-matched
    * updates. Keys without a current row are ignored, so a replayed
    * batch is a no-op — idempotent per (batch, ts) like the upsert.
    * Returns the new version (or the current one when nothing closes).
    */
  def closeDimScd2(keys: DataFrame, path: String, naturalKey: String,
      idCol: String, batchTs: Long): Long = {
    val s = keys.sparkSession
    val v0 = ManifestLog.currentVersion(s, path)
    if (v0 == 0L) return 0L
    val snap = ManifestLog.snapshot(s, path)
    val attrCols = snap.columns.filterNot(c => c == idCol ||
      c == naturalKey || c == "valid_from" || c == "valid_to" ||
      c == "is_current").toSeq
    val kk = keys.select(col(naturalKey).as("__del_key"))
      .dropDuplicates("__del_key")
    val closures = snap.filter(col("is_current"))
      .join(kk, col(naturalKey) === col("__del_key"))
      .select(Seq(col(idCol), col(naturalKey)) ++
        attrCols.map(col) ++ Seq(col("valid_from"),
          lit(batchTs).as("valid_to"), lit(false).as("is_current")): _*)
    if (closures.isEmpty) v0
    else ManifestLog.merge(closures, path, idCol)
  }

  /** The dimension AS OF `ts`: each natural key's row whose validity
    * interval covers ts — the join a fact load at ts performs to pick
    * up period-correct attributes. */
  def dimAsOf(s: SparkSession, path: String, ts: Long): DataFrame =
    ManifestLog.snapshot(s, path)
      .filter(col("valid_from") <= ts &&
        (col("valid_to").isNull || col("valid_to") > ts))
}
