package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the engine.
  *
  * The reference (stoneatom/stonedb) is a single-node columnar engine whose
  * query pipeline is: MySQL parse → compiled step list → pack-skipping scan
  * → join/agg → materialize (see /root/repo/SURVEY.md §3, citing
  * storage/tianmu/core/engine_execute.cpp:80 and core/query.cpp:571 of the
  * reference). Here the entire pipeline is Catalyst: we only own session
  * configuration and table registration.
  *
  * Scale notes (100 TB target):
  *  - AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  *    join-strategy switching replace the reference's hand-rolled join
  *    fallback chain (optimizer/joiner.cpp:95-103).
  *  - ANSI off: the reference inherits MySQL 5.7 loose semantics (silent
  *    casts, NULL on overflow) — SURVEY.md §1.2.
  *  - UTC + parquet NTZ inference keep timestamp semantics engine-neutral.
  *  - shuffle.partitions defaults to the local core count; on a real
  *    cluster this is expected to be overridden (or left to AQE's
  *    coalescing with a high initial value).
  *  - The JVM-wide cache of generated classes holds [[CodegenCacheEntries]]
  *    (Spark's default is 100). The reference compiles each statement
  *    once into a step list (optimizer/compile/compiled_query.h:39-58);
  *    here each query shape is compiled once by Janino, and literals no
  *    longer enter the source ([[graft.plans.ParamLiteralRule]]), so the
  *    working set is the number of shapes. Measured on a 4-core host:
  *    one `graft.Bench` pass over the 76 headline queries compiles about
  *    1,380 classes and the perfbench HTAP statement stream about
  *    150-200, so at 100 entries every pass and every round recompiled
  *    its classes. The cost is metaspace: loaded classes stay resident,
  *    which perfbench reports as `peak_rss_mb`.
  *  - `file:` paths go through [[NioLocalFileSystem]]. Hadoop's local file
  *    system sets the permission of every file and directory it creates,
  *    and without libhadoop each of those is a forked `chmod` (3.1-3.5 ms
  *    on a 4-core host, about 57 per HTAP statement round). The
  *    replacement sets the same mode through `java.nio`; the `.crc`
  *    checksum files, their verification on read, and the output
  *    committer are Hadoop's own and unchanged. Hadoop caches one file
  *    system per scheme for the JVM, not per configuration, so the first
  *    session fixes the class for every later one.
  */
object Engine {

  val TpchTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val ExtraTables: Seq[String] = Seq("events", "documents", "embeddings")
  val AllTables: Seq[String] = TpchTables ++ ExtraTables

  /** `spark.sql.codegen.cache.maxEntries`: a static conf, read once
    * when Spark's `CodeGenerator` initializes, so it reaches every
    * session in the JVM (see the scale notes above). */
  private val CodegenCacheEntries = 4096

  def defaultParallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Apply engine configuration to an existing builder.
    *
    * `spark.sql.extensions`: the Builder API exposes no getter, so a
    * value already set on `b` cannot be read back and would be silently
    * clobbered — callers that bring their own extensions (Delta, Iceberg,
    * …) pass them via `extraExtensions` and both are registered (the conf
    * accepts a comma-separated list). */
  def configure(b: SparkSession.Builder, cores: Int,
                extraExtensions: Seq[String] = Nil): SparkSession.Builder = b
    // optimizer extensions (banded range-join rewrite; rules are inert
    // until their spark.graft.* conf enables them)
    .config("spark.sql.extensions",
      (extraExtensions :+ "graft.plans.GraftExtensions").distinct
        .mkString(","))
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.filterPushdown", "true")
    // events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    // rejects; read as long ns and convert in table() below.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
    .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    .config("spark.ui.enabled", "false")

  def session(master: String = s"local[$defaultParallelism]",
              cores: Int = defaultParallelism,
              appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(master).appName(appName), cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one testdata table: `{dir}/{name}.parquet`. The `events` table's
    * `ts` column may be written as TIMESTAMP(NANOS) — which the reader
    * surfaces as long ns under `nanosAsLong` — or as a plain µs timestamp.
    * Normalize to microsecond TIMESTAMP_NTZ in either case, deciding from
    * the READ SCHEMA: only a LongType `ts` needs the ns→µs conversion
    * (integer `div`, not `/`, because 2024 epoch-ns ≈ 1.7e18 exceeds
    * double's 2^53 exact-integer range); a timestamp `ts` passes through
    * with just the NTZ cast. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema.fieldNames.contains("ts")) {
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        case _ => df.withColumn("ts", expr("ts").cast("timestamp_ntz"))
      }
    } else df
  }

  /** Rebalance the input of a compute-bound per-row stage (shingling,
    * hashing, regex scoring) across all cores when the upstream scan
    * yields fewer splits than cores. The testdata parquet files are
    * single-row-group, so Spark's byte-range splitting gives them ONE
    * non-empty task and per-row compute serializes on one core; the
    * shuffled bytes (raw text) are tiny next to the compute they unlock.
    * On a cluster-scale input splits ≫ cores, the condition is false and
    * no shuffle is added — safe at 100 TB. Not used for plain scan→agg
    * queries, where partial aggregation already shrinks data before the
    * exchange and a rebalance would only add a full-data shuffle.
    *
    * ONLY call this on a raw scan. The "fewer splits than cores"
    * condition is decided from Catalyst STATISTICS (file-listing bytes ÷
    * `spark.sql.files.maxPartitionBytes`, the same arithmetic the scan's
    * partition planner applies), not by touching `.rdd` — instantiating
    * the RDD forced partition planning per call and was the one RDD-API
    * touch in an otherwise pure-DataFrame codebase (r10 verdict). */
  def rebalance(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(maxSplit) * cores) df.repartition(cores) else df
  }

  /** Register every table under `dir` as a temp view plus the custom SQL
    * functions (the SQL entry point — the analog of the reference's
    * schema catalog + function dialect). */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    AllTables.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    functions.Registry.register(spark)
  }
}
