package graft.streaming

import graft.data.CurationPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The CDC plane composed with the curation plane — the reference's whole
  * point as ONE runnable path (end_to_end_test.py:337-370 streams table
  * rows through the pipeline; failure_recovery_test.py:227-349 requires
  * the result to survive restarts): a Debezium wire stream of an upstream
  * `documents` OLTP table flows through [[CdcPipeline.startWire]] (typed
  * per-position by the evolving catalog, T22b), the t13b latest-state
  * query over its committed batches gives the live corpus, and that corpus
  * IS the input to [[graft.data.CurationPipeline]] — quality → dedup →
  * decontaminate → budget → shard export with manifest verification.
  *
  * Scale: [[materializeWire]] is the t13b plan shape — one hash shuffle
  * on the row identity with `max_by(pos_key)` (map-side combinable),
  * never a window/sort over the changelog; [[corpusFromSnapshot]] is a
  * narrow per-row `from_json` projection. Restart/DDL tolerance comes
  * from the planes themselves (checkpoint + state-mirror + per-position
  * typing), which is exactly what `CdcCurationComposedSpec` asserts:
  * crash-restart mid-feed and an ALTER
  * mid-stream leave the exported shards byte-identical to an
  * uninterrupted run's.
  */
object CdcCuration {

  /** The documents-table payload fields the corpus parse extracts. A
    * post-ALTER payload may carry MORE fields — `from_json` ignores them,
    * which is the forward-compatibility contract: adding a column
    * upstream must not break a downstream curation consumer. */
  val CorpusPayloadSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** t13b latest-state over a wire-mode output directory for one topic:
    * per row identity (`topic` plus `idField` inside the typed payload
    * JSON, as `row_id`), keep the binlog-latest image; rows whose latest
    * event is a delete are gone. The same committed-changelog reader as
    * [[CdcPipeline.readMaterialized]] ([[CdcPipeline.latestState]]): one
    * keyed aggregation, so a 100 TB changelog shuffles once on identity
    * and never sorts. */
  def materializeWire(spark: SparkSession, outDir: String, topic: String,
      idField: String = "doc_id"): DataFrame =
    CdcPipeline.latestState(spark, outDir, col("topic") === topic,
      Seq(col("topic"),
        get_json_object(col("payload_json"), s"$$.$idField").cast("long").as("row_id")),
      Seq("message_type", "schema_version", "payload_json"))

  /** Materialized `documents`-table snapshot → the documents-shaped
    * corpus the curation registry operates on (doc_id, text, lang,
    * source, n_chars). `n_chars` falls back to length(text) for rows
    * whose upstream schema predates the column — a NULL would poison
    * every length-derived quality feature downstream. */
  def corpusFromSnapshot(mat: DataFrame): DataFrame =
    mat.select(from_json(col("payload_json"), CorpusPayloadSchema).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("p.text").as("text"),
        col("p.lang").as("lang"), col("p.source").as("source"),
        coalesce(col("p.n_chars"), length(col("p.text")).cast("long"))
          .as("n_chars"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)

  /** The composed run: materialize the wire output's latest state, parse
    * the corpus, execute the full curation chain, export + verify. */
  def curateWire(spark: SparkSession, outDir: String, topic: String,
      cfg: CurationPipeline.Config, exportDir: String)
      : CurationPipeline.Report = {
    val corpus = corpusFromSnapshot(materializeWire(spark, outDir, topic))
    CurationPipeline.run(corpus, None, cfg, exportDir)
  }

  // ---- wire-feed builders (documents table → Debezium events) ---------
  // Used by the c1 registry query; `CdcCurationComposedSpec` keeps its
  // own hand-built events so a builder bug here still fails a gate there.

  /** Debezium data events from documents-shaped rows, JSON assembled by
    * the engine (text is arbitrary — never string-spliced). `posCol`
    * must be monotone within the changelog. `withQualityHint` adds the
    * post-ALTER column to the row image. */
  def wireDataEvents(df: DataFrame, op: String,
      posCol: org.apache.spark.sql.Column, cluster: String,
      db: String = "corpusdb", table: String = "documents",
      withQualityHint: Boolean = false): DataFrame = {
    val basic = Seq(
      col("doc_id").cast("string").as("doc_id"), col("text").as("text"),
      col("lang").as("lang"), col("source").as("source"),
      col("n_chars").cast("string").as("n_chars"))
    val image = struct(
      (if (withQualityHint) basic :+ (col("doc_id") % 5).cast("string").as("quality_hint")
       else basic): _*)
    val imageT = "struct<doc_id:string,text:string,lang:string," +
      "source:string,n_chars:string" +
      (if (withQualityHint) ",quality_hint:string" else "") + ">"
    val payload = struct(
      (if (op == "d") image else lit(null).cast(imageT)).as("before"),
      (if (op == "d") lit(null).cast(imageT) else image).as("after"),
      struct(lit("2.6").as("version"), lit("mysql").as("connector"),
        lit(cluster).as("name"), lit(1700000000000L).as("ts_ms"),
        lit(db).as("db"), lit(table).as("table"),
        lit(1L).as("server_id"), lit(null).cast("string").as("gtid"),
        lit("binlog.000001").as("file"), posCol.cast("long").as("pos"),
        lit(0).as("row")).as("source"),
      lit(op).as("op"), lit(1700000000000L).as("ts_ms"))
    df.select(lit(s"$cluster.$db.$table").as("topic"),
      lit(null).cast("binary").as("key"),
      to_json(struct(payload.as("payload"))).cast("binary").as("value"),
      array().cast("array<struct<key:string,value:binary>>").as("headers"))
  }

  /** One Debezium schema-change event (the connector's schema topic). */
  def wireDdlEvent(spark: SparkSession, cluster: String, pos: Long,
      ddl: String, typ: String, db: String = "corpusdb",
      table: String = "documents"): DataFrame = {
    import spark.implicits._
    Seq((cluster,
      s"""{"payload":{"source":{"version":"2.6","connector":"mysql","name":"$cluster","ts_ms":1700000000000,"db":"$db","table":"$table","server_id":1,"gtid":null,"file":"binlog.000001","pos":$pos,"row":0},"ts_ms":1700000000000,"databaseName":"$db","schemaName":null,"ddl":"$ddl","tableChanges":[{"type":"$typ","id":"\\"$db\\".\\"$table\\""}]}}"""))
      .toDF("topic", "json")
      .select(col("topic"), lit(null).cast("binary").as("key"),
        col("json").cast("binary").as("value"),
        array().cast("array<struct<key:string,value:binary>>").as("headers"))
  }

  /** The CREATE statement for the documents table (the corpus contract). */
  val DocumentsCreateDdl: String =
    "CREATE TABLE `documents` (doc_id BIGINT PRIMARY KEY, text TEXT, " +
      "lang VARCHAR(8), source VARCHAR(32), n_chars BIGINT)"
}
