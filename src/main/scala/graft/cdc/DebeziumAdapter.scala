package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Interop with the Debezium MySQL connector's public wire format — the
  * path a user takes to point this engine at a REAL MySQL: Debezium
  * tails the binlog into Kafka, Spark reads the topic
  * (`readStream.format("kafka")`, or [[graft.streaming.KafkaWire]]'s
  * simulated broker in tests), and [[fromDebezium]] turns the Debezium
  * change events into this engine's CDC contract so every downstream
  * operator (envelope, materialization, topic sink, position tracking)
  * runs unchanged.
  *
  * The Debezium MySQL envelope is public contract (Debezium reference,
  * "MySQL connector > change event values"): a `payload` carrying
  * `before`/`after` row images, an `op` code (c/u/d/r), `ts_ms`, and a
  * `source` block with the binlog coordinates (`file`, `pos`, `row`),
  * origin (`db`, `table`, `server_id`), and optional `gtid`. The row
  * images are parsed as MAP<STRING,STRING> — per-table schemas vary at
  * runtime, which is exactly the dynamic-payload model the catalog's
  * evolved StructTypes then type (on the wire path,
  * `CdcPipeline.ddlBarrier` + `typedWire`: each row under the catalog at
  * its own position).
  *
  * Mapping (reference semantics the rest of the engine already encodes):
  * op c/u/d → create/update/delete (the reference's
  * WriteRows/UpdateRows/DeleteRows classification); op r (snapshot read)
  * → refresh — the reference models initial-snapshot traffic as
  * `<table>_data_pipeline_refresh` rows; `source.file`/`pos`/`row` →
  * the (log_file, log_pos, row_idx) total order that keys pos_key;
  * `gtid` → the transaction id, falling back to file:pos when GTID mode
  * is off (util/transaction_id.py:22-68 does the same).
  *
  * Scale: one from_json projection per record — narrow, codegen'd, no
  * shuffle; the stream inherits Kafka's per-(topic, partition) order,
  * which Debezium guarantees equals binlog order per table.
  */
object DebeziumAdapter {

  private val sourceStruct: StructType = StructType(Seq(
    StructField("version", StringType, nullable = true),
    StructField("connector", StringType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("ts_ms", LongType, nullable = true),
    StructField("db", StringType, nullable = true),
    StructField("table", StringType, nullable = true),
    StructField("server_id", LongType, nullable = true),
    StructField("gtid", StringType, nullable = true),
    StructField("file", StringType, nullable = true),
    StructField("pos", LongType, nullable = true),
    StructField("row", IntegerType, nullable = true)))

  /** Debezium change-event value schema (payload part; the schema block
    * Debezium emits alongside is connector metadata we don't need). */
  val valueSchema: StructType = StructType(Seq(
    StructField("payload", StructType(Seq(
      StructField("before", MapType(StringType, StringType), nullable = true),
      StructField("after", MapType(StringType, StringType), nullable = true),
      StructField("source", sourceStruct, nullable = true),
      StructField("op", StringType, nullable = true),
      StructField("ts_ms", LongType, nullable = true))), nullable = true)))

  /** kafka-source-shaped frame (binary `value` carrying Debezium JSON) →
    * this engine's row-image contract. Columns match the names the
    * downstream operators key on; `before`/`after` stay dynamic maps for
    * the catalog's evolved schemas to type. */
  def fromDebezium(src: DataFrame): DataFrame =
    changeRows(src.select(from_json(col("value").cast("string"), valueSchema).as("v")))

  /** [[fromDebezium]] over values already parsed into column `v`. */
  private[graft] def changeRows(parsed: DataFrame): DataFrame =
    parsed
      .select(col("v.payload.*"))
      .select(
        col("source.name").as("cluster_name"),
        col("source.db").as("database_name"),
        col("source.table").as("table_name"),
        expr("""CASE op WHEN 'c' THEN 'create' WHEN 'u' THEN 'update'
                WHEN 'd' THEN 'delete' WHEN 'r' THEN 'refresh' END""")
          .as("message_type"),
        col("source.file").as("log_file"),
        col("source.pos").as("log_pos"),
        coalesce(col("source.row"), lit(0)).as("row_idx"),
        (col("source.ts_ms") * 1000L).as("ts_us"),
        // GTID when the server runs gtid_mode=ON, else binlog coords —
        // the same fallback the reference's transaction id uses
        coalesce(col("source.gtid"),
          concat_ws(":", col("source.name"), col("source.file"),
            col("source.pos").cast("string"))).as("transaction_id"),
        col("before"), col("after"))

  /** The engine's envelope rendered AS Debezium change events (the exact
    * inverse of [[fromDebezium]] over this engine's column set) — used to
    * round-trip-test the adapter without a MySQL+Debezium deployment, and
    * usable as a Debezium-compatible egress for consumers that already
    * speak that dialect. */
  def toDebezium(env: DataFrame): DataFrame =
    env.select(
      col("topic"),
      col("pos_key").cast("binary").as("key"),
      to_json(struct(struct(
        // Debezium semantics: update carries old image in `before`,
        // delete carries the DELETED row in `before` (after = null)
        when(col("message_type") === "update",
          map(lit("id"), col("prev_id").cast("string"),
            lit("value"), col("prev_value").cast("string"),
            lit("k"), col("prev_k").cast("string")))
          .when(col("message_type") === "delete",
            map(lit("id"), col("payload_id").cast("string"),
              lit("value"), col("payload_value").cast("string"),
              lit("k"), col("payload_k").cast("string")))
          .otherwise(lit(null).cast(MapType(StringType, StringType)))
          .as("before"),
        when(col("message_type") =!= "delete",
          map(lit("id"), col("payload_id").cast("string"),
            lit("value"), col("payload_value").cast("string"),
            lit("k"), col("payload_k").cast("string")))
          .otherwise(lit(null).cast(MapType(StringType, StringType)))
          .as("after"),
        struct(
          lit("2.6").as("version"), lit("mysql").as("connector"),
          col("cluster_name").as("name"),
          (col("ts_us") / 1000L).cast("long").as("ts_ms"),
          col("database_name").as("db"), col("table_name").as("table"),
          lit(1L).as("server_id"), lit(null).cast("string").as("gtid"),
          col("log_file").as("file"), col("log_pos").cast("long").as("pos"),
          col("row_idx").cast("int").as("row")).as("source"),
        expr("""CASE message_type WHEN 'create' THEN 'c' WHEN 'update' THEN 'u'
                WHEN 'delete' THEN 'd' WHEN 'refresh' THEN 'r' END""").as("op"),
        (col("ts_us") / 1000L).cast("long").as("ts_ms")).as("payload")))
        .cast("binary").as("value"),
      array().cast(
        "array<struct<key:string,value:binary>>").as("headers"))

  // ---- schema-change topic (the DDL side of a real connector) ---------

  /** Debezium schema-change event value schema — the events a MySQL
    * connector publishes on its schema-change topic (topic named after
    * `topic.prefix`; Debezium reference, "MySQL connector > schema change
    * topic"): the raw `ddl` string, the `databaseName` it ran under, the
    * binlog coordinates in `source`, and a `tableChanges` array whose
    * entries carry a change `type` (CREATE/ALTER/DROP) and the qualified
    * table `id`. This is the real-deployment form of the reference's
    * QueryEvent path (components/schema_event_handler.py:49-132). */
  val schemaChangeSchema: StructType = StructType(Seq(
    StructField("payload", StructType(Seq(
      StructField("source", sourceStruct, nullable = true),
      StructField("ts_ms", LongType, nullable = true),
      StructField("databaseName", StringType, nullable = true),
      StructField("schemaName", StringType, nullable = true),
      StructField("ddl", StringType, nullable = true),
      StructField("tableChanges", ArrayType(StructType(Seq(
        StructField("type", StringType, nullable = true),
        StructField("id", StringType, nullable = true))), containsNull = true),
        nullable = true))), nullable = true)))

  /** Binlog file name → its rotation sequence (`binlog.000042` → 42);
    * combined with the intra-file byte position this gives the monotone
    * event position the catalog's ALTER intervals key on. The shift is
    * 2^40, NOT max_binlog_size (2^30): MySQL never splits a transaction
    * across files, so a large transaction routinely pushes a file past
    * max_binlog_size — a 2^30 pack would alias such positions into the
    * next file's id range, breaking ALTER-interval ordering and letting
    * the catalog's (table, event_id) replay-dedup skip a genuinely new
    * ALTER as a replay. 2^40 (1 TiB of intra-file positions, 2^22 files
    * before the sign bit) keeps the pair ordering exact for any feasible
    * binlog. */
  private def filePosAsEventId(file: Column, pos: Column): Column =
    regexp_extract(file, "([0-9]+)$", 1).cast("bigint") * (1L << 40) + pos

  /** The packed (file_seq, pos) event position, public: wire-mode
    * consumers place DATA rows on the same monotone axis the catalog's
    * ALTER intervals use, so a row types under the schema active at its
    * own binlog position (T22b) even when it shares a batch with the
    * ALTER. */
  def packedEventId(file: Column, pos: Column): Column =
    filePosAsEventId(file, pos)

  /** kafka-source-shaped frame (binary `value` carrying Debezium
    * schema-change JSON) → the engine's DDL-stream contract: one row per
    * statement with the coordinates the catalog records ALTER intervals
    * at. Control-plane frame — one row per DDL, never data-scaled. */
  def fromSchemaChange(src: DataFrame): DataFrame =
    schemaChangeRows(src.select(
      from_json(col("value").cast("string"), schemaChangeSchema).as("v")))

  /** [[fromSchemaChange]] over values already parsed into column `v`. */
  private[graft] def schemaChangeRows(parsed: DataFrame): DataFrame =
    parsed
      .select(col("v.payload.*"))
      .filter(col("ddl").isNotNull)
      .select(
        col("source.name").as("cluster_name"),
        col("databaseName").as("database_name"),
        // tableChanges ids are quoted-qualified ("db"."table"); the array
        // is EMPTY for statements with no table target (e.g. CREATE
        // DATABASE) — `get` (null-safe under ANSI, unlike element_at)
        // plus nullif map both the empty array and an empty extracted id
        // segment back to a null table_name, round-trip-exact with
        // [[toSchemaChange]]
        nullif(regexp_extract(get(col("tableChanges"), lit(0)).getField("id"),
          "\"([^\"]*)\"$", 1), lit("")).as("table_name"),
        get(col("tableChanges"), lit(0)).getField("type").as("change_type"),
        col("ddl"),
        col("source.file").as("log_file"),
        col("source.pos").as("log_pos"),
        (col("source.ts_ms") * 1000L).as("ts_us"),
        filePosAsEventId(col("source.file"), col("source.pos")).as("event_id"))

  /** DDL-stream frame (the [[fromSchemaChange]] column set) rendered as
    * Debezium schema-change events — the inverse used to round-trip-test
    * the schema path without a deployment, and a schema-change-dialect
    * egress for downstream consumers. */
  def toSchemaChange(ddls: DataFrame): DataFrame =
    ddls.select(
      col("cluster_name").as("topic"),
      col("database_name").cast("binary").as("key"),
      to_json(struct(struct(
        struct(
          lit("2.6").as("version"), lit("mysql").as("connector"),
          col("cluster_name").as("name"),
          (col("ts_us") / 1000L).cast("long").as("ts_ms"),
          col("database_name").as("db"), lit(null).cast("string").as("table"),
          lit(1L).as("server_id"), lit(null).cast("string").as("gtid"),
          col("log_file").as("file"), col("log_pos").cast("long").as("pos"),
          lit(null).cast("int").as("row")).as("source"),
        (col("ts_us") / 1000L).cast("long").as("ts_ms"),
        col("database_name").as("databaseName"),
        lit(null).cast("string").as("schemaName"),
        col("ddl"),
        // non-table DDL (CREATE DATABASE …) carries NO tableChanges entry
        // — matching the real connector, and round-tripping a null
        // table_name exactly (an empty-string id would come back as '')
        when(col("table_name").isNull,
          array().cast("array<struct<type:string,id:string>>"))
          .otherwise(array(struct(col("change_type").as("type"),
            concat(lit("\""), col("database_name"), lit("\".\""),
              col("table_name"), lit("\"")).as("id"))))
          .as("tableChanges")).as("payload")))
        .cast("binary").as("value"),
      array().cast(
        "array<struct<key:string,value:binary>>").as("headers"))

  /** Feed a parsed schema-change stream into the catalog — the ingestion
    * the reference's schema_event_handler owns (py:49-132): statements
    * apply in binlog order, ALTERs record their position so the payload
    * versions (T22b: replay's ALTER intervals; on the wire path
    * `CdcPipeline.ddlBarrier` + `typedWire`) follow the REAL
    * connector's DDL from that position onward. The collect is
    * control-plane-tiny by construction (one row per DDL statement, the
    * same bound the reference's single-threaded DDL path implies).
    * Returns the number of schema-changing statements applied. */
  def applySchemaChanges(catalog: graft.catalog.SchemaCatalog,
      changes: DataFrame): Int = {
    val rows = changes
      .select("cluster_name", "database_name", "ddl", "event_id")
      .collect()
      .sortBy(_.getLong(3))
    rows.count { r =>
      catalog.applyDdl(r.getString(0), r.getString(1), r.getString(2),
        atEventId = r.getLong(3)).nonEmpty
    }
  }
}
