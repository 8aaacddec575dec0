package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the driver testdata (TESTDATA.md).
  *
  * `events.parquet` has shipped with two encodings of its `ts` column over
  * time: parquet TIMESTAMP(NANOS) (which Spark rejects unless
  * `spark.sql.legacy.parquet.nanosAsLong=true`, arriving as a LONG of
  * nanoseconds) and parquet TIMESTAMP_MICROS with isAdjustedToUTC=0
  * (arriving as TIMESTAMP_NTZ). [[Tables.events]] branches on the loaded
  * dtype and normalizes either to `ts_us` (microseconds since epoch) so
  * engine code and the DuckDB oracle (`epoch_us(ts)`) see identical values.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session config every entry point uses: `local[cpus]` with as many
    * shuffle partitions, `cpus` defaulting to the machine's cores
    * (`SPARK_GRAFT_CPUS` overrides); at cluster scale partitioning is
    * AQE-advised instead.
    *
    * Artifact isolation is off. Spark keys its generated-code cache by
    * (thread context classloader, source), and with isolation on, every
    * cloned session — one per `CdcPipeline.start`/`startWire` run —
    * gets its own artifact state, so the executor builds a fresh
    * classloader per run and recompiles every task-side class: 41
    * classes per `wire_wide_ddl` restart and 29 per `replay_trickle_ddl`
    * restart in cdcbench, 0 with isolation off. Cloned sessions copy the
    * setting. Nothing here adds session artifacts (no `addArtifact`, no
    * Spark Connect; UDFs live on the application classpath), so
    * isolation buys nothing. The setting only takes effect when the
    * session is created.
    */
  def session(appName: String, cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // bounded-top-k aggregates (graft_topk_pairs) group by the query id:
      // thousands of tiny ≤k buffers per task. The 128-group default would
      // flip ObjectHashAggregate to a per-task SORT of the full pair
      // stream — exactly the row-volume the aggregate exists to avoid.
      // Session-global tradeoff: EVERY object-hash aggregate (KMV, CMS,
      // the sketch family) now holds up to 256k group buffers per task
      // before the sort fallback; those buffers are bounded (≤k entries /
      // fixed sketch width), so the per-task ceiling is ~buffers×O(kB) —
      // acceptable headroom, but a new UNBOUNDED-buffer aggregate must
      // not rely on the fallback for memory safety.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session-scoped UDAFs (native expressions register via GraftExtensions;
    // typed Aggregators go through udf.register)
    spark.udf.register("graft_kmv",
      org.apache.spark.sql.functions.udaf(new graft.functions.KmvAggregator(64)))
    spark
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** events with `ts` replaced by `ts_us` (µs since epoch, LONG).
    *
    * Encoding branch (see object scaladoc):
    *   - LONG (legacy nanos-as-long): `ts DIV 1000` — integer division
    *     floors like DuckDB's read-time ns→µs conversion; plain `/` would
    *     go through Double and lose precision above 2^53.
    *   - TIMESTAMP / TIMESTAMP_NTZ (current TIMESTAMP_MICROS files):
    *     `unix_micros` after a cast to TIMESTAMP. The session timezone is
    *     pinned to UTC ([[session]]), so the NTZ→TZ cast is identity on the
    *     wall-clock value and matches DuckDB's `epoch_us(ts)` exactly.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(spark, sfDir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case LongType => expr("ts DIV 1000")
      case TimestampType | TimestampNTZType =>
        unix_micros(col("ts").cast(TimestampType))
      case other =>
        // fail FAST on an unrecognized regeneration of the testdata: a
        // silent cast here would corrupt ts_us for all 44 events-dependent
        // queries at once (the r6 failure mode) instead of erroring at load
        sys.error(s"events.ts has unsupported type $other — " +
          "extend Tables.events for the new encoding")
    }
    raw.withColumn("ts_us", tsUs).drop("ts")
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
