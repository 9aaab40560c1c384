package graft

import org.apache.spark.sql.SparkSession

/** Session factory: one place for every conf that affects semantics or
  * local-mode performance, so Verify/Bench/tests/driver all agree.
  *
  * Scale notes (100 TB): AQE handles skew-join splitting and post-shuffle
  * coalescing; shuffle.partitions is sized to cores locally but would be
  * ~2-3x total executor cores on a real cluster (AQE coalesces down).
  *
  * Generated code is compiled once per JVM. Whole-stage codegen
  * compiles each distinct generated class with Janino (about 13 ms of
  * CPU each) into one JVM-wide cache, `CodeGenerator.cache`, keyed on
  * (task context classloader, code). Two session-creation confs keep a
  * load's classes in it; each is needed on its own:
  *  - `spark.sql.codegen.cache.maxEntries` ([[CodegenCacheEntries]]):
  *    Spark's default of 100 entries is below one rebuild's working set,
  *    so the LRU cache thrashed and every `Pipeline.run` of a 2000-line
  *    lake compiled about 141 classes, on its sixth run as on its first.
  *  - `spark.sql.artifact.isolation.enabled=false`: every
  *    `StreamingPipeline.runOnce` starts its query on a cloned session,
  *    and with isolation on (the default) that clone's tasks run under a
  *    classloader of their own, so every increment missed the cache and
  *    compiled 90–145 classes however small it was. graft adds no
  *    per-session artifact (no `addArtifact` or `addJar` anywhere), so
  *    isolation buys it nothing.
  * With isolation off alone a load still compiled about 136 classes;
  * with both, a rebuild or an increment whose plans carry no per-load
  * literal compiles none from its second run on (PipelineSpec and
  * IncrementalStreamingSpec pin both counts).
  */
object Graft {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Entries of the JVM-wide codegen cache. Measured working set: one
    * ingest cycle (rebuild plus increments) compiles 219 distinct
    * classes and the dashboard KPIs about 40 more, so 1000 holds them
    * over 3× with room for the registered keys' plans. An entry is one
    * loaded class and its bytecode stats, a few KB.
    */
  val CodegenCacheEntries = 1000

  def builder(cores: String = cpus): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing knobs, parameterized for A/B measurement
      // (round 15, guide §2.2). parallelismFirst=false ("respect the
      // advisory size") was MEASURED and REJECTED as the local
      // default: it cut total task count 30% (1630 → 1129 at sf0.1)
      // but coalesced the compute-DENSE small shuffles — LSH candidate
      // frames whose few MB fan out into millions of broadcast-probe
      // rows downstream — to one task, and dedup_minhash_lsh walls
      // rose 1.6-2.0 → 2.0-2.2 s while no query got reliably faster:
      // bytes are the wrong proxy for these stages' work. Spark's
      // parallelism-first default sizes post-shuffle partitions to the
      // core count, which is the scale-adaptive choice on any cluster;
      // a pure-ETL deployment whose shuffles are I/O-bound (the guide's
      // case for advisory-size coalescing) can flip the env without a
      // code change.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION", "64m"))
      // collect_set/collect_list aggregates (the grouped-bucket pair
      // pattern: LSH candidate buckets, basket pair expansion) run on
      // ObjectHashAggregate, whose in-memory map falls back to
      // SORT-BASED aggregation after 128 distinct keys per task —
      // Spark's default is pathologically low for bucket workloads: a
      // 10x-scale partition holds thousands of group keys, so every
      // basket task was sorting its whole pre-aggregation stream.
      // Measured at sf1.0f32 (interleaved A/B, round 15): the sort
      // fallback cost link_prediction_ra's checkpoint chain ~+0.7 s
      // (mins 3.06/3.10 vs 2.64 with the raised threshold, old
      // non-basket form 2.32-2.52); dedup_minhash_lsh — the largest
      // pre-existing collect_list site — was flat (mins 6.2-7.2
      // either way). 128k keys is memory-safe at ANY scale because
      // the bound is per TASK and every bucket value here is bounded
      // (baskets ≤ brand/vocab universe, winnow lists ≤ maxDf, band
      // lists selectivity-bounded, r14-measured). Env-overridable.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "131072"))
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.parquet has shipped as TIMESTAMP(NANOS) (which
      // Spark's parquet reader rejects) in some generations and
      // TIMESTAMP(MICROS, NTZ) in others; accept both: nanos arrive as
      // raw int64 and are converted (see Tables.events), NTZ micros are
      // read as session-TZ timestamps (UTC session = identical instants).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ", "false")
      // single-file tables locally: split scans finer than the 128m default
      // so local[N] actually fans out (no-op at cluster scale where files
      // are many).
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")

  def session(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }

  /** Defensive: confs a foreign-built session (e.g. driver harness) may
    * lack (all runtime-settable), plus the engine's native-expression
    * registrations (idempotent).
    *
    * The two codegen-cache confs of [[builder]] take effect only when
    * the session (or, for the cache size, the JVM's first compile) is
    * created, so they cannot be set here. A session someone else built
    * (the driver harness through `SparkEntry`) keeps Spark's defaults,
    * and its loaders recompile their classes: every
    * `StreamingPipeline.runOnce` increment and every rebuild past the
    * 100-entry cache.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "131072"))
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    plans.LongDot.register(spark)
    plans.SpaceSavingTopK.register(spark)
    plans.WordShingles.register(spark)
    plans.CharShingles.register(spark)
    plans.HexParityBits.register(spark)
    plans.HllSketch.register(spark)
    plans.CmsSketch.register(spark)
    plans.DdSketch.register(spark)
    plans.BloomFilter.register(spark)
    plans.DeflateLen.register(spark)
    plans.MediaHeader.register(spark)
    plans.AsOfJoinPlan.ensureStrategy(spark)
    spark
  }
}
