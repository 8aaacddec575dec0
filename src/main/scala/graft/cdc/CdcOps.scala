package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The data-plane operator chain of the engine, one function per SURVEY §2
  * operator. Each is a plain `DataFrame => DataFrame` so Catalyst sees one
  * declarative plan end-to-end (filters collapse and push down to the scan;
  * the registry join broadcasts).
  *
  * Scale notes (100 TB): T2/T3/T8 are conjunctive predicates on scan columns
  * — pushed to parquet; T6 explode is narrow (no shuffle); T16 is a
  * broadcast join against a tiny registry (#tables rows); the only shuffles
  * in the whole chain are the ones the checkpoint/stats aggregations (T26+)
  * genuinely need, keyed by topic/table.
  */
object CdcOps {
  import CdcSqlFragments._

  /** T2 — source event-type filter (reference `only_events`,
    * low_level_binlog_stream_reader_wrapper.py:63-69). */
  def admit(df: DataFrame): DataFrame = df.filter(col("kind") =!= "other")

  /** T5 — heartbeat beacons: consumed for position/lag, never emitted
    * (reference simple_binlog_stream_reader_wrapper.py:150-183). */
  def heartbeats(df: DataFrame): DataFrame = df.filter(col("kind") === "heartbeat")

  def dataOnly(df: DataFrame): DataFrame = df.filter(col("kind") === "data")

  def ddlOnly(df: DataFrame): DataFrame = df.filter(col("kind") === "ddl")

  /** T3 — table whitelist with refresh expansion (reference
    * low_level_binlog_stream_reader_wrapper.py:78-94). A refresh row's
    * base_table is its base, so whitelisting by base implements the
    * expanded set {t, t_data_pipeline_refresh}. */
  val whitelisted: Column = col("base_table").isin(WHITELIST: _*)

  def whitelist(df: DataFrame): DataFrame = df.filter(whitelisted)

  /** T4 + T7 — refresh rows re-target to the base table and become
    * RefreshMessage (reference low_level_binlog_stream_reader_wrapper.py:114-124). */
  def retarget(df: DataFrame): DataFrame = df
    .withColumn("target_table", col("base_table"))
    .withColumn("out_message_type",
      when(col("is_refresh"), lit("refresh")).otherwise(col("message_type")))

  /** T8 — schema blacklist (reference base_event_handler.py:51-63). */
  val blacklisted: Column = col("database_name").isin(BLACKLIST: _*)

  def blacklistFilter(df: DataFrame): DataFrame = df.filter(!blacklisted)

  /** T6 — RowsEvent explode: one binlog event packs k%3+1 row images
    * (reference low_level_binlog_stream_reader_wrapper.py:100-135).
    * Narrow transform — no shuffle. */
  def explodeRows(df: DataFrame): DataFrame = df
    .withColumn("row_idx", explode(sequence(lit(0), col("k") % 3)))
    .withColumn("payload_id", col("event_id") * 10 + col("row_idx"))
    .withColumn("payload_value", col("value") + col("row_idx"))
    .withColumn("payload_k", col("k") + col("row_idx"))

  /** T16/T18 registry: distinct table identities with a deterministic
    * schema_id and the PII flag (reference schema_wrapper.py:29-32,64-77).
    * The distinct is a tiny shuffle (#tables rows); the window runs on one
    * partition of ~12 rows — the real registry at scale is a broadcast map
    * maintained on the driver, which this models. */
  def registry(filteredData: DataFrame): DataFrame =
    filteredData.select("database_name", "target_table").distinct()
      .withColumn("schema_id",
        dense_rank().over(Window.orderBy("database_name", "target_table")).cast("int"))
      .withColumn("contains_pii", col("target_table").isin(PII_TABLES: _*))

  /** T16 — schema-registry lookup join, broadcast (reference
    * data_event_handler.py:40-52). */
  def enrich(rows: DataFrame, reg: DataFrame): DataFrame =
    rows.join(broadcast(reg), Seq("database_name", "target_table"))

  /** T9/T10 — after-image is the payload; updates also carry the before
    * image (reference util/message_builder.py:73-88). */
  def images(df: DataFrame): DataFrame = df
    .withColumn("prev_id", when(col("out_message_type") === "update", col("payload_id")))
    .withColumn("prev_value", when(col("out_message_type") === "update", col("payload_value") - 1.0))
    .withColumn("prev_k", when(col("out_message_type") === "update", col("payload_k") - 1))

  /** SET-column emulation for T11 (reference message_builder.py:99-100:
    * python set → list; we sort for determinism). Shared with the oracle. */
  val TAGS_CASE: String =
    """CASE k % 4 WHEN 0 THEN '' WHEN 1 THEN 'TWO,ONE'
       WHEN 2 THEN 'ONE' ELSE 'TWO,ONE,THREE' END"""

  /** T11 — per-type output transforms (reference message_builder.py:90-107):
    * datetime → ISO-8601 micros string, TIME → µs-since-midnight long,
    * SET → sorted list. */
  def typeTransforms(df: DataFrame): DataFrame = df
    .withColumn("ts_iso",
      date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
    .withColumn("time_of_day_us", col("ts_us") % 86400000000L)
    .withColumn("tags_sorted", array_join(array_sort(split(expr(TAGS_CASE), ",")), ","))

  /** T12/T14/T26 — final envelope: metadata, transaction id, topic, and a
    * sortable position key `(log_file, log_pos, offset)` (reference
    * util/message_builder.py:51-78, util/transaction_id.py:22-68). */
  def envelope(df: DataFrame): DataFrame = df.select(
    lit(CLUSTER).as("cluster_name"),
    col("database_name"),
    col("target_table").as("table_name"),
    col("out_message_type").as("message_type"),
    col("log_file"), col("log_pos"),
    col("row_idx").as("pos_offset"),
    col("ts_us"), col("schema_id"), col("contains_pii"),
    col("payload_id"), col("payload_value"), col("payload_k"),
    col("tags_sorted"), col("ts_iso"), col("time_of_day_us"),
    col("prev_id"), col("prev_value"), col("prev_k"),
    concat_ws(":", lit(CLUSTER), col("log_file"), col("log_pos")).as("transaction_id"),
    concat(col("database_name"), lit("."), col("target_table")).as("topic"),
    // pos_key's LEXICOGRAPHIC order must equal event order — it keys
    // max_by materialization, per-topic sink ordering, and resume
    // comparisons. log_pos pads to 10 digits (MySQL positions are
    // uint32, max 4294967295 — and Spark's lpad TRUNCATES overlong
    // input, so an insufficient width would silently corrupt the
    // order); row_idx pads to 4. Unlike log_pos, row_idx has NO
    // protocol bound (rows per event follow binlog_row_event_max_size),
    // so overflow raises instead of silently reordering the stream.
    concat_ws(":", col("log_file"),
      lpad(col("log_pos").cast("string"), 10, "0"),
      when(col("row_idx") > 9999, raise_error(concat(
          lit("pos_key row_idx overflow (>9999), total order would corrupt: "),
          col("row_idx").cast("string"))).cast("string"))
        .otherwise(lpad(col("row_idx").cast("string"), 4, "0"))).as("pos_key"),
    col("event_id"), col("row_idx"), col("k"))

  /** T11b-e — the MySQL type-matrix fidelity stage (reference
    * tests/integration/end_to_end_test.py:77-196): every type family the
    * reference round-trips, derived arithmetically from the row image
    * (see [[CdcSqlFragments]] TM_* for the shared value derivations) and
    * carried in the type the catalog's DDL mapping assigns it —
    * signed ints at their exact boundaries, unsigned upcast one width,
    * DECIMAL(p,s) built exact from unscaled integers, unsigned-BIGINT
    * boundary as DECIMAL(20,0), DATE/DATETIME(6)/TIME(6)/YEAR through the
    * reference's output transforms (ISO-8601 micros string, µs-of-day),
    * zero-dates NULLed like the binlog reader does, CHAR/VARCHAR/BINARY/
    * ENUM. Pure narrow projection — codegen'd, no shuffle. */
  def typeMatrix(rows: DataFrame): DataFrame = rows.select(
    col("event_id"), col("row_idx"),
    expr(TM_TINY).as("tiny_s"), expr(TM_UTINY).as("tiny_u"),
    expr(TM_SMALL).as("small_s"), expr(TM_USMALL).as("small_u"),
    expr(TM_MED).as("medium_s"), expr(TM_INT).as("int_s"),
    expr(TM_UINT).as("int_u"), expr(TM_BIG_HI).as("big_hi"),
    expr(TM_BIG_LO).as("big_lo"),
    expr(TM_DEC92).as("dec_9_2"), expr(TM_DEC1211).as("dec_12_11"),
    expr(TM_UBIG).as("ubig_20"), expr(TM_F32).as("f32"),
    date_add(to_date(lit("1901-01-01")), expr(TM_DAYS)).as("d_date"),
    date_format(timestamp_micros(expr(TM_US6)),
      "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("dt6_iso"),
    expr(TM_TIME6).as("time6_us"), expr(TM_YEAR).as("yr"),
    when(expr(TM_IS_ZERO), lit("0000-00-00 00:00:00"))
      .otherwise(date_format(timestamp_micros(expr(TM_US6)),
        "yyyy-MM-dd HH:mm:ss")).as("dt_wire"),
    when(expr(TM_IS_ZERO), lit(null).cast("string"))
      .otherwise(date_format(timestamp_micros(expr(TM_US6)),
        "yyyy-MM-dd HH:mm:ss")).as("dt_out"),
    expr(TM_CH).as("ch"),
    concat(expr(TM_CH), lit("-"), col("payload_id").cast("string")).as("vch"),
    expr(s"CAST($TM_CH AS BINARY)").as("bin"),
    expr(TM_ENUM).as("enum_v"))

  /** T22b — per-table schema-version validity intervals derived from the
    * ALTER stream (reference schema_event_handler.py:154-175: every ALTER
    * registers a new schema version; data events thereafter carry it).
    * Control-plane frame: one row per ALTER, broadcastable. `to_id` null =
    * interval open to the end of the stream. */
  def schemaIntervals(admitted: DataFrame): DataFrame = {
    val w = Window.partitionBy("database_name", "base_table").orderBy("from_id")
    admitted.filter(expr(IS_ALTER_DDL))
      .select(col("database_name"), col("base_table"), col("event_id").as("from_id"))
      .withColumn("version", (row_number().over(w) + 1).cast("bigint"))
      .withColumn("to_id", lead(col("from_id"), 1).over(w))
  }

  /** T22b — the data plane follows the catalog's evolved schemas: each
    * envelope row joins the schema-version interval active at its binlog
    * position and emits a payload whose COLUMN SET is that version's
    * (version v carries evolved columns c2..cv — the replay's arithmetic
    * stand-in for the reference's ALTER ADD column; reference
    * data_event_handler.py:40-52 builds each message dict from the schema
    * active for the row).
    *
    * Scale: intervals are control-plane-tiny (one row per ALTER) and
    * broadcast; the equality keys (db, table) make this a broadcast HASH
    * join with the range condition as its filter, each data row matching
    * at most one interval — no shuffle, no fan-out on the 100 TB side. */
  def evolvePayload(env: DataFrame, intervals: DataFrame): DataFrame = {
    // intervals shares lineage with env (both descend from the replay
    // frame) — alias both sides so the join keys resolve by name, not by
    // the ambiguous shared attribute ids
    val i = intervals.select(
      col("database_name").as("i_db"), col("base_table").as("i_tbl"),
      col("version").as("i_version"), col("from_id"), col("to_id"))
    env.alias("e").join(broadcast(i.alias("iv")),
        col("e.database_name") === col("iv.i_db") &&
          col("e.table_name") === col("iv.i_tbl") &&
          col("iv.from_id") <= col("e.event_id") &&
          (col("iv.to_id").isNull || col("e.event_id") < col("iv.to_id")),
        "left")
      .withColumn("schema_version", coalesce(col("i_version"), lit(1L)))
      .drop("i_db", "i_tbl", "i_version", "from_id", "to_id")
      .withColumn("payload_json", concat(
        lit("{\"id\":"), col("payload_id").cast("string"),
        lit(",\"k\":"), col("payload_k").cast("string"),
        // sequence() must be guarded: Spark's sequence(2, 1) counts DOWN
        // ([2,1]) where DuckDB's generate_series(2, 1) is empty
        when(col("schema_version") >= 2, concat(lit(","), array_join(
          transform(sequence(lit(2L), col("schema_version")), v =>
            concat(lit("\"c"), v.cast("string"), lit("\":"),
              (col("payload_k") + v).cast("string"))), ",")))
          .otherwise(lit("")),
        lit("}")))
  }

  // ---- composed chain ------------------------------------------------

  /** cdc frame → filtered (pre-explode) data events. */
  def filteredData(cdc: DataFrame): DataFrame =
    blacklistFilter(retarget(whitelist(dataOnly(admit(cdc)))))

  /** Full data-plane pipeline: events → envelope. */
  def pipeline(events: DataFrame): DataFrame = {
    val cdc = CdcReplay.fromEvents(events)
    val filtered = filteredData(cdc)
    val reg = registry(filtered)
    envelope(typeTransforms(images(enrich(explodeRows(filtered), reg))))
  }
}
