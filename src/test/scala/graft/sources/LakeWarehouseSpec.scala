package graft.sources

import java.nio.file.Files

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class LakeWarehouseSpec extends AnyFunSuite {
  import SharedSpark._

  private val schema = StructType(Seq(
    StructField("job_url", StringType), StructField("titre", StringType),
    StructField("via", StringType), StructField("n", LongType)))

  test("JsonLake enforces schema and quarantines corrupt lines") {
    val dir = Files.createTempDirectory("graft_lake").toFile
    val f = new java.io.File(dir, "scrape.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"job_url":"u1","titre":"dev","via":"src0","n":1}""")
    w.println("""{"job_url":"u2","titre":"ing","via":"src1","n":2}""")
    w.println("""{"job_url":"u3","titre": BROKEN""") // malformed
    w.println("""{"job_url":"u4","titre":"ops","via":"src0","n":"notanum"}""")
    w.close()

    val raw = JsonLake.readJson(spark, f.getAbsolutePath, schema)
    val (clean, bad) = JsonLake.quarantine(raw)
    assert(clean.count() === 2)
    assert(bad.count() === 2)
    assert(clean.columns.toSeq === schema.fieldNames.toSeq)
    assert(clean.filter(col("job_url") === "u1").head.getAs[Long]("n") === 1L)
    // quarantined rows keep their raw text for the audit trail
    assert(bad.select(JsonLake.CorruptCol).collect()
      .forall(!_.isNullAt(0)))
  }

  test("readCsv enforces schema, skips the header, quarantines malformed lines") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "export.csv")
    val w = new java.io.PrintWriter(f)
    w.println("job_url,titre,via,n")
    w.println("u1,dev,src0,1")
    w.println("""u2,"ing, data",src1,2""") // quoted delimiter
    w.println("u3,ops,src0,notanum") // type violation -> quarantine
    w.close()

    val raw = JsonLake.readCsv(spark, f.getAbsolutePath, schema)
    val (clean, bad) = JsonLake.quarantine(raw)
    assert(clean.count() === 2)
    assert(bad.count() === 1)
    assert(clean.columns.toSeq === schema.fieldNames.toSeq)
    assert(clean.filter(col("job_url") === "u2").head.getAs[String]("titre")
      === "ing, data")
    assert(bad.select(JsonLake.CorruptCol).collect().forall(!_.isNullAt(0)))
  }

  test("readJsonArray ingests legacy multi-line JSON arrays, quarantines malformed files") {
    val dir = Files.createTempDirectory("graft_lake_ml").toFile
    val good = new java.io.PrintWriter(new java.io.File(dir, "scrape1.json"))
    good.println("""[
      {"job_url": "u1",
       "titre": "dev", "via": "src0", "n": 1},
      {"job_url": "u2", "titre": "ing",
       "via": "src1", "n": 2}
    ]""")
    good.close()
    val broken = new java.io.PrintWriter(new java.io.File(dir, "scrape2.json"))
    broken.println("""[{"job_url": "u3", "titre": BROKEN""")
    broken.close()

    val raw = JsonLake.readJsonArray(spark, dir.getAbsolutePath, schema)
    val (clean, bad) = JsonLake.quarantine(raw)
    assert(clean.count() === 2)
    assert(clean.select("job_url").collect().map(_.getString(0)).toSet ===
      Set("u1", "u2"))
    assert(bad.count() === 1)
    assert(bad.select(JsonLake.CorruptCol).head.getString(0).contains("u3"))
  }

  test("Warehouse partitioned fact write: one file per partition, pruned reads") {
    val dir = Files.createTempDirectory("graft_wh").toFile.getAbsolutePath
    val fact = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("ym"))
    Warehouse.writeFactPartitioned(fact, s"$dir/fact", "ym", "o_orderkey")

    val back = spark.read.parquet(s"$dir/fact")
    assert(back.count() === fact.count())

    // exactly one data file per ym partition (repartition aligned the
    // shuffle with the layout)
    val files = new java.io.File(s"$dir/fact").listFiles()
      .filter(_.getName.startsWith("ym="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty)
    files.foreach { case (p, n) => assert(n === 1, s"partition $p has $n files") }

    // partition pruning reaches the scan
    val plan = back.filter(col("ym") === 199706).queryExecution
      .executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ym"),
      s"no partition pruning in plan:\n$plan")
  }

  test("createViews: spark.sql runs over the same repaired tables as the loaders") {
    Tables.createViews(spark, sf)
    // SQL and DataFrame routes agree, including the events ts repair
    val viaSql = spark.sql(
      """SELECT e.event_type, COUNT(*) AS n, MIN(e.ts) AS first_ts
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY e.event_type ORDER BY e.event_type""").collect()
    val viaDf = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf),
        col("user_id") === col("c_custkey"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min(col("ts")).as("first_ts"))
      .orderBy("event_type").collect()
    assert(viaSql.map(_.toSeq).toSeq === viaDf.map(_.toSeq).toSeq)
    assert(viaSql.nonEmpty)
    // native functions work through pure SQL too
    val sk = spark.sql(
      "SELECT graft_hll_est(graft_hll_sketch(CAST(user_id AS STRING), 10)) FROM events")
      .head.getLong(0)
    assert(sk > 0L)
  }

  test("dynamic partition pruning: a filtered dim prunes fact partitions at runtime") {
    val dir = Files.createTempDirectory("graft_dpp").toFile.getAbsolutePath
    val fact = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("ym"))
    Warehouse.writeFactPartitioned(fact, s"$dir/fact", "ym", "o_orderkey")
    val back = spark.read.parquet(s"$dir/fact")

    // dim knows which periods matter only at RUN time (static pruning
    // can't see through the join) — DPP injects the dim's ym set into
    // the fact scan as a runtime partition filter, the mechanism that
    // keeps a 100 TB date-partitioned fact from full-scanning when a
    // query joins a filtered calendar/period dimension. The dim needs a
    // SELECTIVE non-join predicate for the optimizer to plan DPP, so it
    // carries a tag column filtered at query time.
    val kept = fact.select(col("ym")).distinct()
      .collect().map(_.getAs[Int]("ym")).sorted.take(2).toSet
    fact.select(col("ym")).distinct()
      .withColumn("tag",
        when(col("ym").isin(kept.toSeq: _*), "keep").otherwise("skip"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("tag") === "keep")
    val joined = back.join(dim, Seq("ym"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no DPP in plan:\n${plan.take(3000)}")
    // and the result is still correct
    assert(joined.count() ===
      fact.filter(col("ym").isin(kept.toSeq: _*)).count())
  }

  test("JDBC warehouse sink: star frames round-trip through embedded Derby") {
    // Derby ships with Spark (the Hive-metastore driver) — an
    // in-process stand-in for the reference's Postgres warehouse.
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftwh;create=true"

    val dim = graft.operators.StarSchema.dimSurrogateKeys(spark, sf)
    Warehouse.writeJdbc(dim, url, "dim_stacked", props, numPartitions = 2)
    val dimBack = Warehouse.readJdbc(spark, url, "dim_stacked", props)
    assert(dimBack.count() === dim.count())
    assert(dimBack.columns.sorted.toSeq === dim.columns.sorted.toSeq)
    assert(dimBack.select("dim_name", "value", "id").collect().toSet ===
      dim.select("dim_name", "value", "id").collect().toSet)

    val fact = graft.operators.StarSchema.factStarJoin(spark, sf)
    Warehouse.writeJdbc(fact, url, "fact_orders", props)
    val factBack = Warehouse.readJdbc(spark, url, "fact_orders", props)
    assert(factBack.count() === fact.count())
    // overwrite is idempotent (the get-or-create reload path)
    Warehouse.writeJdbc(fact, url, "fact_orders", props)
    assert(Warehouse.readJdbc(spark, url, "fact_orders", props).count() ===
      fact.count())
  }

  test("bucketed tables join with zero Exchange on either side") {
    val dir = Files.createTempDirectory("graft_buckets").toFile.getAbsolutePath
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val items = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    Warehouse.writeBucketed(orders, "graft_b_orders", "o_orderkey", 4,
      Some(s"$dir/orders"))
    Warehouse.writeBucketed(items, "graft_b_items", "l_orderkey", 4,
      Some(s"$dir/items"))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path a fact-fact join takes at scale
      // (broadcast would mask the bucketing)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_b_orders")
        .join(spark.table("graft_b_items"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n${plan.take(2000)}")
      assert(joined.count() === items.count()) // FK join: every item hits
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_items")
    }
  }

  test("fulfillment_lag_quartiles over bucketed facts: zero Exchange into the join, same result") {
    // the §6 claim "at 100 TB this is bucketed-layout territory",
    // demonstrated on the operator itself: both facts written bucketed+
    // sorted on the order key, the fact×fact join then plans with NO
    // Exchange (and no Sort) below the SortMergeJoin — the recurring
    // per-query shuffle is paid once at write time
    val dir = Files.createTempDirectory("graft_buckets_flq").toFile.getAbsolutePath
    val items = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_shipdate", "l_linenumber")
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    Warehouse.writeBucketed(items, "graft_b_flq_items", "l_orderkey", 4,
      Some(s"$dir/items"))
    Warehouse.writeBucketed(orders, "graft_b_flq_orders", "o_orderkey", 4,
      Some(s"$dir/orders"))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path a fact-fact join takes at scale
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = graft.operators.Stats.fulfillmentLagFrom(
        spark.table("graft_b_flq_items"), spark.table("graft_b_flq_orders"))
      val plan = bucketed.queryExecution.sparkPlan
      val smj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, plan.toString.take(2000))
      val exch = smj.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exch.isEmpty,
        s"bucketed fact join still shuffles:\n${smj.head.toString.take(2000)}")
      assert(bucketed.collect().map(_.toString).toSeq ===
        graft.operators.Stats.fulfillmentLagQuartiles(spark, sf)
          .collect().map(_.toString).toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
      spark.sql("DROP TABLE IF EXISTS graft_b_flq_items")
      spark.sql("DROP TABLE IF EXISTS graft_b_flq_orders")
    }
  }

  test("upsertDim: an existing dim that cannot be read fails, files untouched") {
    import spark.implicits._
    val dim = Files.createTempDirectory("graft_dim").toString + "/dim_source"
    val t = Warehouse.DimTable("dim_source", dim, Seq("value" -> "value", "id" -> "id_source"))
    def upsert(values: String*) = Warehouse.upsertDims(
      values.toDF("value").withColumn("dim", lit("dim_source")), Seq("value"), Seq(t), identity)
    upsert("alpha", "beta")
    // schema inference reads the summary file first, so a junk one makes
    // the dim unreadable while its data files are intact
    Files.write(java.nio.file.Paths.get(dim, "_common_metadata"),
      "not parquet".getBytes)
    def files() = new java.io.File(dim).listFiles().map(f =>
      f.getName -> java.util.Arrays.hashCode(Files.readAllBytes(f.toPath))).toMap
    val before = files()
    val e = intercept[Exception](upsert("gamma"))
    assert(e.getMessage.contains(dim))
    assert(files() === before, "a failed read must not rewrite the dim")
  }

  test("numberDims: stored ids kept, new values ranked after each dim's max, rows grouped") {
    import spark.implicits._
    val stored = Seq[(String, String, Option[String], Int)](
      ("dim_a", "x", None, 1), ("dim_a", "z", None, 2),
      ("dim_skill", "spark", Some("hard"), 5),
      ("dim_skill", "spark", Some("soft"), 6))
      .toDF("dim", "value", "type_skill", "id")
    val values = Seq[(String, String, Option[String], Option[String])](
      ("dim_a", "x", None, Some("S1")), // stored and new
      ("dim_a", "b", None, Some("S3")), ("dim_a", "b", None, Some("S2")),
      ("dim_a", "b", None, Some("S2")), ("dim_a", "y", None, None),
      ("dim_new", "q", None, None), ("dim_new", "p", None, None),
      ("dim_skill", "python", None, None), ("dim_skill", "python", None, None),
      ("dim_skill", "python", Some("hard"), None),
      ("dim_skill", "spark", Some("hard"), None))
      .toDF("dim", "value", "type_skill", "secteur")
    val got = Warehouse.numberDims(values, Seq("value", "type_skill"), Some(stored))
      .select("dim", "value", "type_skill", "secteur", "id", "fresh")
    stored.createOrReplaceTempView("nd_stored")
    values.createOrReplaceTempView("nd_values")
    val oracle = spark.sql("""
      SELECT dim, value, type_skill, CAST(NULL AS STRING) AS secteur, id,
        false AS fresh FROM nd_stored
      UNION ALL
      SELECT n.dim, value, type_skill, secteur, CAST(COALESCE(m.mx, 0) +
        ROW_NUMBER() OVER (PARTITION BY n.dim ORDER BY value, type_skill)
        AS INT) AS id, true AS fresh
      FROM (SELECT dim, value, type_skill, MIN(secteur) AS secteur
            FROM nd_values v WHERE NOT EXISTS (SELECT 1 FROM nd_stored s
              WHERE s.dim = v.dim AND s.value <=> v.value
                AND s.type_skill <=> v.type_skill)
            GROUP BY dim, value, type_skill) n
      LEFT JOIN (SELECT dim, MAX(id) AS mx FROM nd_stored GROUP BY dim) m
        ON n.dim = m.dim""")
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty)
    val byKey = got.collect().map(r => (r.getString(0), r.getString(1),
      Option(r.getString(2))) -> r).toMap
    def at(d: String, v: String, t: Option[String] = None) = byKey((d, v, t))
    assert(got.count() === 10, "one row per (dim, value, type_skill)")
    assert(at("dim_a", "x").getInt(4) === 1 && !at("dim_a", "x").getBoolean(5))
    assert(at("dim_a", "x").isNullAt(3), "a stored row carries no attribute")
    assert(at("dim_a", "b").getInt(4) === 3 && at("dim_a", "b").getString(3) === "S2")
    assert(at("dim_a", "y").getInt(4) === 4)
    assert(at("dim_new", "p").getInt(4) === 1 && at("dim_new", "q").getInt(4) === 2)
    assert(at("dim_skill", "python").getInt(4) === 7)
    assert(at("dim_skill", "python", Some("hard")).getInt(4) === 8)
    assert(at("dim_skill", "spark", Some("hard")).getInt(4) === 5)
  }

  test("dedupAppend: bloom-routed exactly-once keys across three batches") {
    import spark.implicits._
    val store = Files.createTempDirectory("dedup_store").toString + "/docs"
    val b1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("key", "payload")
    val first = Warehouse.dedupAppend(b1, store, "key")
    assert(first.count() === 3)
    // batch 2: two repeats, two new — only the new rows append
    val b2 = Seq((2L, "b2"), (3L, "c2"), (4L, "d"), (5L, "e"))
      .toDF("key", "payload")
    val second = Warehouse.dedupAppend(b2, store, "key")
    assert(second.select("key").collect().map(_.getLong(0)).sorted
      === Array(4L, 5L))
    // batch 3: all repeats (spanning both earlier batches) — nothing lands
    val b3 = Seq((1L, "x"), (4L, "y")).toDF("key", "payload")
    assert(Warehouse.dedupAppend(b3, store, "key").count() === 0)
    val all = spark.read.parquet(s"$store/data").collect()
    assert(all.length === 5)
    assert(all.map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L, 5L))
    // first-writer-wins: repeats never overwrote stored payloads
    val byKey = all.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byKey(2L) === "b" && byKey(4L) === "d")
  }

  test("dedupAppend: within-batch duplicate keys keep a deterministic survivor") {
    import spark.implicits._
    // the same batch carries one key three times with different
    // payloads, spread across partitions — first-writer-wins must pick
    // the same payload on every run/retry (min under the payload
    // order), never a partition-order-dependent row
    def batch() = Seq((7L, "zeta"), (7L, "alpha"), (7L, "mid"), (8L, "solo"))
      .toDF("key", "payload").repartition(4)
    val s1 = Files.createTempDirectory("dedup_det1").toString + "/d"
    val s2 = Files.createTempDirectory("dedup_det2").toString + "/d"
    Warehouse.dedupAppend(batch(), s1, "key")
    Warehouse.dedupAppend(batch(), s2, "key")
    def stored(p: String) = spark.read.parquet(s"$p/data").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stored(s1) === stored(s2))
    assert(stored(s1)(7L) === "alpha", "survivor must be the payload-order minimum")
    // and a replay of the same batch against the store appends nothing
    assert(Warehouse.dedupAppend(batch(), s1, "key").count() === 0)
  }

  test("schema evolution: widened writers and mergeSchema readers coexist in one table") {
    import spark.implicits._
    // generation 1 writes (key, val); generation 2 adds a column — the
    // lakehouse reality where old files never get rewritten
    val dir = Files.createTempDirectory("evolve").toString + "/t"
    Seq((1L, 10.0), (2L, 20.0)).toDF("key", "val")
      .write.mode("append").parquet(dir)
    Seq((3L, 30.0, "eu"), (4L, 40.0, "us")).toDF("key", "val", "region")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("key", "region", "val"))
    val rows = merged.orderBy("key").collect()
    assert(rows.length === 4)
    // gen-1 rows surface NULL for the evolved column, not an error
    assert(rows.take(2).forall(_.isNullAt(rows.head.fieldIndex("region"))))
    assert(rows.drop(2).map(_.getAs[String]("region")).toSeq === Seq("eu", "us"))
    // without mergeSchema the footer-sampled schema may drop the new
    // column silently — the option is the contract, pinned here
    val aggregated = merged.groupBy("region").agg(sum(col("val")).as("s"))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(aggregated(Some("eu")) === 30.0 && aggregated(None) === 30.0)
  }

  test("SCD2 dim: change closes the old row, as-of joins read period truth") {
    import spark.implicits._
    val path = Files.createTempDirectory("scd2_dim").toString + "/dim"
    // batch 1 at ts=100: two companies
    Warehouse.upsertDimScd2(
      Seq(("acme", "tech"), ("byte", "media")).toDF("company", "sector"),
      path, "company", "id_company", 100L)
    val d1 = ManifestLog.snapshot(spark, path).collect()
    assert(d1.length === 2)
    assert(d1.forall(_.getAs[Boolean]("is_current")))
    assert(d1.forall(r => r.isNullAt(r.fieldIndex("valid_to"))))

    // batch 2 at ts=200: acme changes sector, cogs is new, byte is same
    Warehouse.upsertDimScd2(
      Seq(("acme", "finance"), ("byte", "media"), ("cogs", "retail"))
        .toDF("company", "sector"),
      path, "company", "id_company", 200L)
    val d2 = ManifestLog.snapshot(spark, path).collect()
    assert(d2.length === 4) // acme x2, byte x1, cogs x1
    assert(d2.count(_.getAs[Boolean]("is_current")) === 3)
    val acme = d2.filter(_.getAs[String]("company") === "acme")
      .sortBy(_.getAs[Long]("valid_from"))
    assert(acme.map(_.getAs[String]("sector")).toSeq ===
      Seq("tech", "finance"))
    assert(acme.head.getAs[Long]("valid_to") === 200L)
    assert(!acme.head.getAs[Boolean]("is_current"))
    // surrogate ids are unique across ALL versions
    assert(d2.map(_.getAs[Long]("id_company")).distinct.length === 4)

    // as-of reads resolve period-correct attributes
    def sectorAt(ts: Long) = Warehouse.dimAsOf(spark, path, ts)
      .filter(col("company") === "acme").collect()
    assert(sectorAt(150L).map(_.getAs[String]("sector")).toSeq ===
      Seq("tech"))
    assert(sectorAt(250L).map(_.getAs[String]("sector")).toSeq ===
      Seq("finance"))
    assert(Warehouse.dimAsOf(spark, path, 50L).count() === 0)

    // a replayed batch is a no-op: nothing changed, no new version
    val v2 = ManifestLog.currentVersion(spark, path)
    val v3 = Warehouse.upsertDimScd2(
      Seq(("acme", "finance"), ("byte", "media"), ("cogs", "retail"))
        .toDF("company", "sector"),
      path, "company", "id_company", 200L)
    assert(v3 === v2)
    assert(ManifestLog.snapshot(spark, path).count() === 4)
  }

  test("closeDimScd2: a deleted key's row closes, history survives, replay is a no-op") {
    import spark.implicits._
    val path = Files.createTempDirectory("scd2_close").toString + "/dim"
    Warehouse.upsertDimScd2(
      Seq(("acme", "tech"), ("byte", "media")).toDF("company", "sector"),
      path, "company", "id_company", 100L)
    Warehouse.closeDimScd2(Seq("acme").toDF("company"), path,
      "company", "id_company", 150L)
    val d = ManifestLog.snapshot(spark, path).collect()
    assert(d.length === 2) // history retained, nothing dropped
    val acme = d.find(_.getAs[String]("company") === "acme").get
    assert(!acme.getAs[Boolean]("is_current"))
    assert(acme.getAs[Long]("valid_to") === 150L)
    assert(d.find(_.getAs[String]("company") === "byte").get
      .getAs[Boolean]("is_current"))
    assert(Warehouse.dimAsOf(spark, path, 120L).count() === 2)
    assert(Warehouse.dimAsOf(spark, path, 200L).count() === 1)
    // replay: acme is no longer current, so the close is a no-op; an
    // unknown key is ignored too
    val v0 = ManifestLog.currentVersion(spark, path)
    assert(Warehouse.closeDimScd2(Seq("acme", "ghost").toDF("company"),
      path, "company", "id_company", 150L) === v0)
  }

  test("lakehouse loop composed: publish -> CDF -> SCD2 mirror; RESTORE replays the undo") {
    // VERDICT r7 Next #5: every part existed — this drives the chain:
    // streaming JSON publish into the manifest table, the CDF consumer
    // mirroring each version into a TYPE-2 dim (upsert half + close
    // half), a crash replay between handler and marker, then a RESTORE
    // on the source whose undo delta must replay into a dimension that
    // reverts changed keys and closes restore-removed ones — with the
    // full pre-restore history intact underneath.
    def offer(url: String, via: String): String =
      s"""{"job_url":"$url","titre":"t","via":"$via","publication_date":"2024-03-05","description":"hash join data","contrat":"CDI","companie":"Acme","niveau_etudes":"Master","niveau_experience":"junior"}"""
    val lake = Files.createTempDirectory("graft_e2e_lake").toString
    val ckpt = Files.createTempDirectory("graft_e2e_ckpt").toString
    val root = Files.createTempDirectory("graft_e2e_tbl").toString
    val src = root + "/offers"
    val dim = root + "/dim_offer"
    val cdfCkpt = root + "/cdf_ckpt"
    def sync() = graft.streaming.ManifestCdf.mirrorDimScd2(spark, src,
      "offer_key", "job_url", Seq("via"), dim, "id_offer", cdfCkpt)
    def dimRows() = ManifestLog.snapshot(spark, dim).collect()
      .map(r => (r.getAs[String]("job_url"), r.getAs[String]("via"),
        r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.longValue),
        r.getAs[Boolean]("is_current"))).sortBy(t => (t._1, t._3)).toSeq

    // wave 1 -> source v1; mirror opens two dim rows at ts=1
    val w1 = new java.io.PrintWriter(s"$lake/b1.jsonl")
    w1.println(offer("u1", "alpha")); w1.println(offer("u2", "beta"))
    w1.close()
    graft.streaming.StreamingPipeline.runOnceManifest(spark, lake, src, ckpt)
    assert(sync() === Seq(1L))
    assert(dimRows() === Seq(
      ("u1", "alpha", 1L, None, true), ("u2", "beta", 1L, None, true)))

    // wave 2: u1 changes via, u3 arrives -> source v2; the mirror
    // closes u1's old row at ts=2 and opens the new truth
    val w2 = new java.io.PrintWriter(s"$lake/b2.jsonl")
    w2.println(offer("u1", "delta")); w2.println(offer("u3", "gamma"))
    w2.close()
    graft.streaming.StreamingPipeline.runOnceManifest(spark, lake, src, ckpt)
    assert(sync() === Seq(2L))
    val afterV2 = Seq(
      ("u1", "alpha", 1L, Some(2L), false), ("u1", "delta", 2L, None, true),
      ("u2", "beta", 1L, None, true), ("u3", "gamma", 2L, None, true))
    assert(dimRows() === afterV2)

    // crash between handler and marker: drop v2's marker and re-pump —
    // the replayed version must leave the dim byte-identical
    assert(new java.io.File(s"$cdfCkpt/v2").delete(),
      "test harness: simulate crash before the marker landed")
    val dimV = ManifestLog.currentVersion(spark, dim)
    assert(sync() === Seq(2L))
    assert(dimRows() === afterV2)
    assert(ManifestLog.currentVersion(spark, dim) === dimV,
      "replay must not commit a new dim version")

    // RESTORE the source to v1 -> v3 is the undo delta; the mirror
    // replays it: u1 reverts to alpha (new open row — the revert is
    // itself history), u3 closes, u2 untouched
    ManifestLog.restore(spark, src, "offer_key", 1L)
    assert(sync() === Seq(3L))
    assert(dimRows() === Seq(
      ("u1", "alpha", 1L, Some(2L), false),
      ("u1", "delta", 2L, Some(3L), false),
      ("u1", "alpha", 3L, None, true),
      ("u2", "beta", 1L, None, true), ("u3", "gamma", 2L, Some(3L), false)))

    // the source really is back at v1...
    val now = ManifestLog.snapshot(spark, src)
      .select("job_url", "via").collect().map(_.toSeq).toSet
    val atV1 = ManifestLog.snapshot(spark, src, Some(1L))
      .select("job_url", "via").collect().map(_.toSeq).toSet
    assert(now === atV1)
    // ...and period reads answer each era correctly: version-1 truth,
    // version-2 truth, and the post-restore truth
    def asOf(ts: Long) = Warehouse.dimAsOf(spark, dim, ts).collect()
      .map(r => r.getAs[String]("job_url") -> r.getAs[String]("via")).toMap
    assert(asOf(1L) === Map("u1" -> "alpha", "u2" -> "beta"))
    assert(asOf(2L) === Map("u1" -> "delta", "u2" -> "beta", "u3" -> "gamma"))
    assert(asOf(3L) === Map("u1" -> "alpha", "u2" -> "beta"))
    // idle pump: nothing new
    assert(sync().isEmpty)
  }
}
