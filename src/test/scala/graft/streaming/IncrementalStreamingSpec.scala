package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Multi-batch streaming: files arrive one per micro-batch, the
  * watermark advances between batches, and append-mode windows emit
  * exactly once with values equal to a batch aggregation.
  */
class IncrementalStreamingSpec extends AnyFunSuite {
  import SharedSpark._

  private def offer(url: String, via: String): String =
    s"""{"job_url":"$url","titre":"t","via":"$via","publication_date":"2024-03-05","description":"hash join data","contrat":"CDI","companie":"Acme","niveau_etudes":"Master","niveau_experience":"junior"}"""

  test("watermark advances across micro-batches; emissions match batch agg") {
    // split the events table into 3 time-ordered files in a flat dir
    val src = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("ts", "event_id")
    val rows = src.count()
    val flat = Files.createTempDirectory("graft_inc").toString
    (0 until 3).foreach { i =>
      val part = src.limit(((i + 1) * rows / 3).toInt)
        .except(src.limit((i * rows / 3).toInt))
      val tmp = Files.createTempDirectory(s"graft_inc_b$i").toString
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst: Path = Paths.get(flat, f"b$i%02d.parquet")
      Files.move(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(1000000L * (i + 1))
    }

    val schema = spark.read.parquet(flat).schema
    val agg = spark.readStream.schema(schema).parquet(flat)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.end")).as("end_us"), col("event_type"),
        col("n_events"))
    val q = agg.writeStream.format("memory").queryName("inc_stream")
      .outputMode("append")
      .option("maxFilesPerTrigger", "1")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()

    val emitted = spark.table("inc_stream").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(emitted.nonEmpty)

    val batchAll = spark.read.parquet(flat)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.end")).as("end_us"), col("event_type"),
        col("n_events")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    // every emission equals the batch value (exactly-once, no partials)
    emitted.foreach { case (k, v) =>
      assert(batchAll.get(k).contains(v), s"window $k: stream=$v batch=${batchAll.get(k)}")
    }
    // and every window safely below the final watermark was emitted
    val wmUs = spark.read.parquet(flat).agg(max(unix_micros(col("ts"))))
      .head.getLong(0) - 3600L * 1000000L
    val due = batchAll.keys.filter(_._1 <= wmUs - 60L * 1000000L)
    assert(due.nonEmpty)
    due.foreach(k => assert(emitted.contains(k), s"window $k never emitted"))
  }

  test("streaming pipeline: get-or-create ids stable across micro-batches, exactly-once") {
    val lake = Files.createTempDirectory("graft_sp_lake").toString
    val out = Files.createTempDirectory("graft_sp_out").toString
    val ckpt = Files.createTempDirectory("graft_sp_ckpt").toString
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    def assertNoCacheLeft(what: String) =
      assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty,
        s"$what left a cached RDD behind")

    // batch 1: sources alpha and beta
    val w1 = new java.io.PrintWriter(s"$lake/b1.jsonl")
    w1.println(offer("u1", "alpha")); w1.println(offer("u2", "beta"))
    w1.close()
    StreamingPipeline.runOnce(spark, lake, out, ckpt)
    assertNoCacheLeft("runOnce")
    val dim1 = spark.read.parquet(s"$out/dim_source").collect()
      .map(r => r.getAs[String]("value") -> r.getAs[Int]("id_source")).toMap
    assert(dim1 === Map("alpha" -> 1, "beta" -> 2))

    // batch 2: beta repeats (must keep id 2), gamma is new (gets 3)
    val w2 = new java.io.PrintWriter(s"$lake/b2.jsonl")
    w2.println(offer("u3", "beta")); w2.println(offer("u4", "gamma"))
    w2.close()
    StreamingPipeline.runOnce(spark, lake, out, ckpt)
    assertNoCacheLeft("runOnce")
    val dim2 = spark.read.parquet(s"$out/dim_source").collect()
      .map(r => r.getAs[String]("value") -> r.getAs[Int]("id_source")).toMap
    assert(dim2 === Map("alpha" -> 1, "beta" -> 2, "gamma" -> 3))

    // facts: all four offers, FK-resolving, batch-2 beta reuses id 2
    val fact = spark.read.parquet(s"$out/fact_offre")
    assert(fact.count() === 4)
    val byUrl = fact.collect()
      .map(r => r.getAs[String]("job_url") -> r.getAs[Int]("id_source")).toMap
    assert(byUrl("u1") === 1 && byUrl("u2") === 2 &&
      byUrl("u3") === 2 && byUrl("u4") === 3)

    // full star: every dim resolves for every fact row
    Seq("dim_contrat" -> "id_contrat", "dim_titre" -> "id_titre",
      "dim_compagnie" -> "id_compagnie",
      "dim_niveau_etudes" -> "id_niveau_etudes",
      "dim_niveau_experience" -> "id_niveau_experience").foreach {
      case (d, id) =>
        val dimDf = spark.read.parquet(s"$out/$d")
        assert(fact.join(dimDf, fact(id) === dimDf(id)).count() ===
          fact.count(), s"dangling $id")
    }
    // skill dim + bridge: phrase matches landed, links resolve
    val skills = spark.read.parquet(s"$out/dim_skill")
    assert(skills.collect().map(_.getAs[String]("nom")).contains("hash join"))
    val bridge = spark.read.parquet(s"$out/offre_skill")
    assert(bridge.count() > 0)
    assert(bridge.join(skills,
      bridge("id_skill") === skills("id_skill")).count() === bridge.count())

    // exactly-once: re-draining with no new files adds nothing
    StreamingPipeline.runOnce(spark, lake, out, ckpt)
    assert(spark.read.parquet(s"$out/fact_offre").count() === 4)
    assert(spark.read.parquet(s"$out/dim_source").count() === 3)

    // EQUIVALENCE with the batch rebuild: loading the same lake in one
    // shot must yield the same facts and skill links once every
    // surrogate id is resolved back to its natural value (ids themselves
    // may number differently — batch sorts globally, incremental per
    // arrival batch), and fact_offre must read back with one schema
    val outB = Files.createTempDirectory("graft_sp_rebuild").toString
    graft.operators.Pipeline.run(spark, lake, outB)
    assertNoCacheLeft("Pipeline.run")
    val factDims = Seq("dim_source" -> "id_source",
      "dim_contrat" -> "id_contrat", "dim_titre" -> "id_titre",
      "dim_compagnie" -> "id_compagnie",
      "dim_niveau_etudes" -> "id_niveau_etudes",
      "dim_niveau_experience" -> "id_niveau_experience")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def resolved(dir: String) = {
      val f = spark.read.parquet(s"$dir/fact_offre")
      val facts = factDims.foldLeft(f) { case (df, (d, id)) =>
        df.join(spark.read.parquet(s"$dir/$d")
          .select(col(id), col("value").as(d)), id).drop(id)
      }
      val skills = spark.read.parquet(s"$dir/offre_skill")
        .join(spark.read.parquet(s"$dir/dim_skill"), "id_skill")
        .select("job_url", "nom", "type_skill")
      (rows(facts.select(facts.columns.sorted.map(col): _*)), rows(skills))
    }
    val (streamFacts, streamSkills) = resolved(out)
    val (rebuildFacts, rebuildSkills) = resolved(outB)
    assert(streamFacts.size === 4)
    assert(streamFacts === rebuildFacts)
    assert(streamSkills.nonEmpty)
    assert(streamSkills === rebuildSkills)
    assert(spark.read.parquet(s"$out/fact_offre").schema ===
      spark.read.parquet(s"$outB/fact_offre").schema)
  }

  test("streaming pipeline: an all-corrupt first batch leaves later batches loadable") {
    val lake = Files.createTempDirectory("graft_sp0_lake").toString
    val out = Files.createTempDirectory("graft_sp0_out").toString
    val ckpt = Files.createTempDirectory("graft_sp0_ckpt").toString
    val w0 = new java.io.PrintWriter(s"$lake/b0.jsonl")
    w0.println("not json at all"); w0.println("{\"job_url\": broken")
    w0.close()
    StreamingPipeline.runOnce(spark, lake, out, ckpt)
    val w1 = new java.io.PrintWriter(s"$lake/b1.jsonl")
    w1.println(offer("u1", "alpha"))
    w1.close()
    StreamingPipeline.runOnce(spark, lake, out, ckpt)
    val fact = spark.read.parquet(s"$out/fact_offre").collect()
    assert(fact.map(_.getAs[String]("job_url")).toSeq === Seq("u1"))
    assert(fact.head.getAs[Int]("id_source") === 1)
    val dim = spark.read.parquet(s"$out/dim_source").collect()
      .map(r => r.getAs[String]("value") -> r.getAs[Int]("id_source")).toMap
    assert(dim === Map("alpha" -> 1))
  }

  /** Runs `load` and asserts it left no cached RDD behind. */
  private def leavesNoCache(what: String)(load: => Unit): Unit = {
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    load
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty,
      s"$what left a cached RDD behind")
  }

  /** Land `lines` as the next scrape file of `lake` and load it. */
  private def land(lake: String, out: String, ckpt: String, name: String)(
      lines: String*): Unit = {
    val w = new java.io.PrintWriter(s"$lake/$name.jsonl")
    lines.foreach(w.println)
    w.close()
    leavesNoCache("runOnce")(StreamingPipeline.runOnce(spark, lake, out, ckpt))
  }

  private def ids(out: String, dim: String, key: String, id: String) =
    spark.read.parquet(s"$out/$dim").collect()
      .map(r => r.getAs[String](key) -> r.getAs[Int](id)).toMap

  test("compile guard: an increment of a shape already loaded compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val lake = Files.createTempDirectory("graft_cg_lake").toString
    val out = Files.createTempDirectory("graft_cg_out").toString
    val ckpt = Files.createTempDirectory("graft_cg_ckpt").toString
    // every file has one shape: two offers of a new source, one corrupt
    // line; from the second on, each grows dim_source alone
    val compiled = Seq("alpha", "beta", "gamma").map { via =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      land(lake, out, ckpt, via)(offer(s"$via-1", via), offer(s"$via-2", via),
        "{\"job_url\": broken")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    info(s"classes compiled per increment: ${compiled.mkString(", ")}")
    assert(compiled.last === 0L)
    assert(spark.read.parquet(s"$out/fact_offre").count() === 6)
    assert(spark.read.text(s"$out/quarantine").count() === 3)
  }

  test("stacked get-or-create: one string in three dims gets each dim's own next id") {
    val lake = Files.createTempDirectory("graft_sd_lake").toString
    val out = Files.createTempDirectory("graft_sd_out").toString
    val ckpt = Files.createTempDirectory("graft_sd_ckpt").toString
    land(lake, out, ckpt, "b1")(offer("u1", "alpha"))
    val skills1 = ids(out, "dim_skill", "nom", "id_skill")
    assert(ids(out, "dim_source", "value", "id_source") === Map("alpha" -> 1))
    assert(ids(out, "dim_contrat", "value", "id_contrat") === Map("cdi" -> 1))
    // "stage" arrives as a source, a contract and a payload skill at once
    land(lake, out, ckpt, "b2")(offer("u2", "stage")
      .replace("\"CDI\"", "\"Stage\"")
      .replace("}", ",\"skills\":{\"hard_skills\":[\"stage\"]}}"))
    assert(ids(out, "dim_source", "value", "id_source") ===
      Map("alpha" -> 1, "stage" -> 2))
    assert(ids(out, "dim_contrat", "value", "id_contrat") ===
      Map("cdi" -> 1, "stage" -> 2))
    assert(ids(out, "dim_skill", "nom", "id_skill") ===
      skills1 + ("stage" -> (skills1.values.max + 1)))
    val u2 = spark.read.parquet(s"$out/fact_offre").filter(col("job_url") === "u2").head
    assert(u2.getAs[Int]("id_source") === 2 && u2.getAs[Int]("id_contrat") === 2)
    val u2Skills = spark.read.parquet(s"$out/offre_skill").filter(col("job_url") === "u2")
      .collect().map(_.getAs[Int]("id_skill")).toSet
    assert(u2Skills.contains(skills1.values.max + 1))
  }

  test("stacked get-or-create: new values in one dim append to that dim alone") {
    val lake = Files.createTempDirectory("graft_one_lake").toString
    val out = Files.createTempDirectory("graft_one_out").toString
    val ckpt = Files.createTempDirectory("graft_one_ckpt").toString
    land(lake, out, ckpt, "b1")(offer("u1", "alpha"))
    val dims = Seq("dim_source", "dim_contrat", "dim_titre", "dim_compagnie",
      "dim_niveau_etudes", "dim_niveau_experience", "dim_skill")
    def files(d: String) = new java.io.File(s"$out/$d").list().toSet
    val before = dims.map(d => d -> files(d)).toMap
    land(lake, out, ckpt, "b2")(offer("u2", "gamma"), offer("u3", "beta"),
      offer("u4", "alpha"))
    dims.filterNot(_ == "dim_source").foreach(d =>
      assert(files(d) === before(d), s"$d was appended to"))
    assert(files("dim_source") !== before("dim_source"))
    // the new values follow the dim's max id, in sorted order
    assert(ids(out, "dim_source", "value", "id_source") ===
      Map("alpha" -> 1, "beta" -> 2, "gamma" -> 3))
  }

  test("a failed dim append publishes no fact or bridge row of its batch") {
    import graft.operators.Pipeline
    import graft.sources.JsonLake
    val out = Files.createTempDirectory("graft_fail_out").toString
    def load(batchId: Long, lines: String*): Unit = {
      val lake = Files.createTempDirectory("graft_fail_lake").toString
      Files.write(Paths.get(lake, "b.jsonl"), lines.mkString("\n").getBytes)
      StreamingPipeline.loadBatch(JsonLake.readJson(spark, lake, Pipeline.offerSchema),
        out, batchId)
    }
    load(0L, offer("u1", "alpha"))
    def rows(t: String) = spark.read.parquet(s"$out/$t").count()
    val before = (rows("fact_offre"), rows("offre_skill"))
    // reads skip `_` files, but the committer cannot make its staging
    // directory where a regular file stands
    Files.createFile(Paths.get(out, "dim_source", "_temporary"))
    val e = intercept[Exception](load(1L, offer("u2", "gamma")))
    assert(e.getMessage.contains(s"$out/dim_source"), e.getMessage)
    assert((rows("fact_offre"), rows("offre_skill")) === before,
      "a batch whose dim append failed published facts or bridge rows")
    assert(ids(out, "dim_source", "value", "id_source") === Map("alpha" -> 1))
  }

  test("exactly-once JDBC publish: two micro-batches, a replay, and a partial-failure retry") {
    import graft.operators.Pipeline
    import graft.sources.{JsonLake, Warehouse}
    import org.apache.spark.sql.types.{StringType, StructField}
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftpub;create=true"
    val table = "fact_offres_pub"
    val lake = Files.createTempDirectory("graft_jp_lake").toString
    val ckpt = Files.createTempDirectory("graft_jp_ckpt").toString

    // micro-batch 0: two offers land
    val w1 = new java.io.PrintWriter(s"$lake/b1.jsonl")
    w1.println(offer("u1", "alpha")); w1.println(offer("u2", "beta"))
    w1.close()
    StreamingPipeline.runOnceJdbc(spark, lake, url, table, ckpt, props)
    def published() = Warehouse.readJdbc(spark, url, table, props)
    assert(published().count() === 2)

    // micro-batch 1: two more — the checkpoint makes only NEW files a
    // batch, and the warehouse accumulates without touching batch 0
    val w2 = new java.io.PrintWriter(s"$lake/b2.jsonl")
    w2.println(offer("u3", "beta")); w2.println(offer("u4", "gamma"))
    w2.close()
    StreamingPipeline.runOnceJdbc(spark, lake, url, table, ckpt, props)
    assert(published().count() === 4)
    assert(published().select("job_url").distinct().count() === 4)

    // draining with no new files publishes nothing new
    StreamingPipeline.runOnceJdbc(spark, lake, url, table, ckpt, props)
    assert(published().count() === 4)

    // CRASH REPLAY: foreachBatch re-delivers batch 1 with the same id
    // after a failure — publish the same frame under the same batchId
    // again and the warehouse must not grow
    val schema = Pipeline.offerSchema
      .add(StructField(JsonLake.CorruptCol, StringType, nullable = true))
    val b2 = spark.read.schema(schema).json(s"$lake/b2.jsonl")
    val offers2 = Pipeline.enrich(Pipeline.clean(JsonLake.quarantine(b2)._1))
    Warehouse.publishJdbcIdempotent(
      StreamingPipeline.jdbcOfferCols(offers2), url, table, 1L, props)
    assert(published().count() === 4)
    assert(published().select("job_url").distinct().count() === 4)

    // PARTIAL-FAILURE retry: a previous attempt of batch 2 died mid-
    // append (one row landed); the replay must retract it and converge
    // to exactly the full batch
    val partial = StreamingPipeline.jdbcOfferCols(offers2).limit(1)
    partial.withColumn("batch_id", lit(2L)).write.mode("append")
      .jdbc(url, table, props)
    assert(published().count() === 5)
    Warehouse.publishJdbcIdempotent(
      StreamingPipeline.jdbcOfferCols(offers2), url, table, 2L, props)
    val b2rows = published().filter(col("batch_id") === 2L)
    assert(b2rows.count() === 2)
    assert(published().count() === 6)
    assert(b2rows.select("job_url").distinct().count() === 2)
  }

  test("exactly-once manifest publish: each batch is one commit, replay is a no-op") {
    import graft.sources.ManifestLog
    import spark.implicits._
    val lake = Files.createTempDirectory("graft_mp_lake").toString
    val ckpt = Files.createTempDirectory("graft_mp_ckpt").toString
    val table = Files.createTempDirectory("graft_mp_tbl").toString + "/t"

    // micro-batch 0 commits version 1
    val w1 = new java.io.PrintWriter(s"$lake/b1.jsonl")
    w1.println(offer("u1", "alpha")); w1.println(offer("u2", "beta"))
    w1.close()
    StreamingPipeline.runOnceManifest(spark, lake, table, ckpt)
    assert(ManifestLog.currentVersion(spark, table) === 1L)
    assert(ManifestLog.snapshot(spark, table).count() === 2)

    // micro-batch 1 commits version 2; version 1 stays time-travelable
    val w2 = new java.io.PrintWriter(s"$lake/b2.jsonl")
    w2.println(offer("u3", "beta")); w2.println(offer("u4", "gamma"))
    w2.close()
    StreamingPipeline.runOnceManifest(spark, lake, table, ckpt)
    assert(ManifestLog.currentVersion(spark, table) === 2L)
    assert(ManifestLog.snapshot(spark, table).count() === 4)
    assert(ManifestLog.snapshot(spark, table, Some(1L)).count() === 2)

    // a checkpointed REPLAY re-offers an already-committed batchId:
    // the log names it, so the commit is a no-op regardless of payload
    val replay = Seq((99L, "phantom")).toDF("offer_key", "job_url")
    assert(ManifestLog.commitIdempotent(replay, table, "offer_key", 0L) === 2L)
    assert(ManifestLog.currentVersion(spark, table) === 2L)
    assert(ManifestLog.snapshot(spark, table).count() === 4)

    // each committed version carries its writer batch id in the log
    val ids = ManifestLog.log(spark, table)
      .select("version", "batch_id").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids === Map(1L -> 0L, 2L -> 1L))
  }

  test("constraint gate audits every batch and refuses to publish on failure") {
    import graft.operators.{DataQuality, Pipeline}
    import graft.sources.JsonLake
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField}
    def offer(url: String): String =
      s"""{"job_url":"$url","titre":"t","via":"alpha","publication_date":"2024-03-05","description":"hash join data","contrat":"CDI","companie":"Acme","niveau_etudes":"Master","niveau_experience":"junior"}"""
    val schema = Pipeline.offerSchema
      .add(StructField(JsonLake.CorruptCol, StringType, nullable = true))
    def lakeOf(urls: String*) = {
      val lake = Files.createTempDirectory("graft_gate_lake").toString
      val w = new java.io.PrintWriter(s"$lake/b.jsonl")
      urls.foreach(u => w.println(offer(u))); w.close()
      spark.read.schema(schema).json(lake)
    }
    val batch = lakeOf("u1", "u2")

    // healthy batch: audit row per check, all passed, star published
    val okOut = Files.createTempDirectory("graft_gate_ok").toString
    leavesNoCache("a published loadBatch")(
      StreamingPipeline.loadBatch(batch, okOut, batchId = 7L))
    val audit = spark.read.parquet(s"$okOut/load_audit").collect()
    assert(audit.length === 3)
    audit.foreach { r =>
      assert(r.getAs[Boolean]("passed"), r.getAs[String]("constraint"))
      assert(r.getAs[Long]("batch_id") === 7L)
    }
    assert(spark.read.parquet(s"$okOut/fact_offre").count() === 2)
    // a second batch's report appends to the same table, with its own id
    StreamingPipeline.loadBatch(lakeOf("u3", "u4"), okOut, batchId = 9L)
    val audits = spark.read.parquet(s"$okOut/load_audit")
    assert(audits.schema.map(f => f.name -> f.dataType) === Seq(
      "constraint" -> StringType, "violations" -> LongType,
      "passed" -> BooleanType, "batch_id" -> LongType))
    assert(audits.collect().map(r => (r.getLong(3), r.getString(0))).sorted.toSeq ===
      Seq(7L, 9L).flatMap(b => StreamingPipeline.offerChecks.map(b -> _._1).sorted))

    // failing expectation: batch diverted, warehouse untouched
    val badOut = Files.createTempDirectory("graft_gate_bad").toString
    leavesNoCache("a rejected loadBatch")(
      StreamingPipeline.loadBatch(batch, badOut, batchId = 8L,
        checks = Seq("no_rows_allowed" -> count(lit(1)))))
    assert(!spark.read.parquet(s"$badOut/load_audit").collect()
      .exists(_.getAs[Boolean]("passed")))
    assert(spark.read.parquet(s"$badOut/rejected_batches").count() === 2)
    assert(!new java.io.File(s"$badOut/fact_offre").exists(),
      "failed batch must not publish facts")
  }
}
