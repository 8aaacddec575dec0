package graft.streaming

import graft.catalog.{SchemaCatalog, TableId, TableSchema}
import graft.cdc.{CdcOps, CdcReplay, CdcSqlFragments, DebeziumAdapter}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import org.json4s.jackson.JsonMethods
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicReference

/** The streaming shape of the engine (SURVEY §3.1). Both ingress paths —
  * file replay ([[start]]) and the Debezium wire feed ([[startWire]]) —
  * run ONE commit step per micro-batch, inside `foreachBatch` over the
  * cached batch:
  *
  * {{{
  * 1. one control collect: DDL rows in position order, the distinct data
  *    tables, the position maxima (T19 routing, T5/T27 position)
  * 2. DDL barrier: SchemaCatalog.applyDdl in position order (T20-T24; the
  *    reference's flush before a schema change), then afterDdlHook
  * 3. ONE typed frame (replay: T3-T18 chain → envelope, payload versions
  *    by the catalog's ALTER intervals; wire: one projection whose plan
  *    does not depend on the batch's tables, each row looking its catalog
  *    answer up by table and position), one partition per topic sorted by
  *    pos_key (SURVEY §7.4 risk 3), written into `.batch_<id>.staging` and
  *    published by ONE rename to `batch=<id>` (T26)
  * 4. state mirror: lastBatchId + catalog snapshot + position, written
  *    atomically (T25/T27)
  * }}}
  *
  * Exactly-once: Spark's checkpoint replays an uncommitted batch after a
  * crash. Committed batches are skipped by the state mirror's batchId
  * check (reference offset-dedupe, components/recovery_handler.py:
  * 160-168). An UNcommitted batch first clears its staging directory and
  * any `batch=<id>` a crashed attempt published, then publishes again: the
  * sink never holds duplicate rows, and a reader listing batch
  * directories never sees a partly written one (the dot-prefixed staging
  * directory is hidden from Spark/Hadoop listing). Catalog replay is
  * idempotent too: the restart restores the pre-batch snapshot, and
  * fingerprint-keyed registration re-mints the same schema ids (the
  * mid-DDL crash tests, mirroring reference failure_recovery_test.py:493+).
  */
object CdcPipeline {

  /** Input schema of the replay source: the events table with ts already
    * normalized to µs (see graft.Tables.events). */
  val replaySchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("ts_us", LongType)))

  /** Payload struct every data table registers on first sight (schema-on-
    * miss; reference data_event_handler.py:40-52 fetches SHOW CREATE on a
    * cache miss). */
  private val payloadStruct = StructType(Seq(
    StructField("payload_id", LongType),
    StructField("payload_value", DoubleType),
    StructField("payload_k", IntegerType)))

  final case class State(
      lastBatchId: Long, catalogJson: String, cleanShutdown: Boolean,
      /** Saved stream coordinate (reference GlobalEventState.position,
        * models/global_event_state.py:37-92), reconstructible via
        * [[graft.cdc.Position.construct]]. Spark's checkpoint owns the
        * actual source resume; this mirror is the app-visible position the
        * reference exposes for monitoring and catch-up bounds. */
      position: Map[String, String] = Map.empty)

  /** Per-micro-batch stats surfaced by the `observe` node (T37 counters +
    * T5 lag beacon; reference parse_replication_stream_internal.py:47-88
    * flushes per-table counters, simple_binlog_stream_reader_wrapper.py:
    * 81-124 reports the heartbeat-lag gauge). */
  final case class BatchStats(
      batchId: Long, events: Long, heartbeats: Long,
      maxTsUs: Option[Long], perTable: Map[String, Long]) {
    /** Replication delay in seconds at `nowUs` (alerting threshold in the
      * reference is 600 s; config.yaml:32). */
    def lagSeconds(nowUs: Long): Option[Double] =
      maxTsUs.map(t => (nowUs - t) / 1e6)
  }

  private def stateFile(stateDir: String) = Paths.get(stateDir, "state.json")
  private def lockFile(stateDir: String) = Paths.get(stateDir, "lock")

  def loadState(stateDir: String): Option[State] = {
    val f = stateFile(stateDir)
    if (!Files.exists(f)) None
    else {
      import org.json4s._
      implicit val fmt: Formats = DefaultFormats
      val root = JsonMethods.parse(Files.readString(f))
      val pos = (root \ "position") match {
        case JObject(fs) => fs.map { case (k, v) => k -> v.extract[String] }.toMap
        case _ => Map.empty[String, String]
      }
      Some(State((root \ "lastBatchId").extract[Long],
        JsonMethods.compact(root \ "catalog"),
        (root \ "cleanShutdown").extractOrElse[Boolean](true),
        pos))
    }
  }

  /** The one writer of `state.json` (T25/T27/T34; the reference upserts
    * one GlobalEventState record, models/global_event_state.py:37-92):
    * written beside the file, then moved over it atomically. The position
    * values may come from outside the program (wire: Debezium's
    * `source.file`), so json4s renders them; the catalog is already the
    * JSON of [[SchemaCatalog.snapshotJson]]. */
  private def saveState(stateDir: String, s: State): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    val tmp = Paths.get(stateDir, ".state.json.tmp")
    val position = org.json4s.JObject(
      s.position.toList.sortBy(_._1).map { case (k, v) => k -> org.json4s.JString(v) })
    Files.writeString(tmp,
      s"""{"lastBatchId":${s.lastBatchId},"cleanShutdown":${s.cleanShutdown},""" +
        s""""position":${JsonMethods.compact(position)},"catalog":${s.catalogJson}}""")
    Files.move(tmp, stateFile(stateDir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The runs in this JVM by lock token, from before their lock exists
    * until their termination listener has written the clean flag; each
    * holds its query once `start()` has returned it. */
  private val heldTokens =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicReference[StreamingQuery]]()

  /** How long a start waits for a stopped run of this JVM to release its
    * lock. The release is one state save and one delete, but it waits its
    * turn behind every earlier event on Spark's listener bus. */
  private val ReleaseWaitMs = 30000L

  /** T35 — single-instance lock with ZK-ephemeral-style stale takeover
    * (the reference holds a ZooKeeper lock for the whole run;
    * base_parse_replication_stream.py:124-132). A run takes ONE token,
    * `pid:<uuid>`, and the lock file holds it unchanged until the run's
    * termination listener releases it. A holder is live while its pid is
    * this JVM's and its token is in [[heldTokens]], or while its pid is
    * another live process. A live holder of this JVM whose query has
    * stopped is releasing: `awaitTermination()` returns before Spark's
    * asynchronous listener bus runs the listener that saves the clean
    * flag and frees the lock, so a restart right after it waits up to
    * [[ReleaseWaitMs]] for that release. Any other holder is stale and its
    * lock is taken over: a dead pid, this JVM's pid with a token no run
    * here holds (a crashed JVM whose pid was recycled), no parseable pid.
    * Returns the token. */
  private def acquireLock(stateDir: String): String = {
    val selfPid = ProcessHandle.current().pid()
    val token = s"$selfPid:${java.util.UUID.randomUUID()}"
    val f = lockFile(stateDir)
    // the token is written to a file of its own first and then linked to
    // `lock`: the link is atomic and fails if `lock` exists, so two
    // starters racing for a dead holder's lock cannot both win, and no
    // reader ever sees a lock without its token
    val mine = Files.writeString(
      Files.createDirectories(Paths.get(stateDir)).resolve(s".lock.$token"), token)
    heldTokens.put(token, new AtomicReference[StreamingQuery]())
    var attempts = 0
    try {
      while (!linked(f, mine)) {
        attempts += 1
        if (attempts == 3) throw new IllegalStateException(s"could not acquire the lock on $stateDir")
        // the holder may release between our failed link and this read
        try {
          val holder = Files.readString(f).trim
          val releasing = Option(heldTokens.get(holder)).flatMap(q => Option(q.get))
            .exists(!_.isActive)
          if (releasing) {
            val deadline = System.currentTimeMillis() + ReleaseWaitMs
            while (heldTokens.containsKey(holder) && System.currentTimeMillis() < deadline)
              Thread.sleep(10)
            if (heldTokens.containsKey(holder)) throw new IllegalStateException(
              s"a stopped pipeline instance ($holder) still holds the lock on $stateDir")
          } else {
            val live = holder.split(":", 2).head.toLongOption.exists { pid =>
              if (pid == selfPid) heldTokens.containsKey(holder)
              else ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
            }
            if (live) throw new IllegalStateException(
              s"another pipeline instance ($holder) holds the lock on $stateDir")
            // stale: take over by atomically MOVING the observed lock aside
            // — only one stealer's move can succeed, so a second stealer can
            // never delete the winner's fresh lock (a plain delete could)
            val aside = f.resolveSibling(s".lock.stale.${java.util.UUID.randomUUID()}")
            Files.move(f, aside, StandardCopyOption.ATOMIC_MOVE)
            Files.deleteIfExists(aside)
          }
        } catch { case _: java.nio.file.NoSuchFileException => () } // freed or taken meanwhile
      }
      token
    } catch {
      case e: Exception => heldTokens.remove(token); throw e
    } finally Files.deleteIfExists(mine)
  }

  private def linked(link: java.nio.file.Path, target: java.nio.file.Path): Boolean =
    try { Files.createLink(link, target); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }

  private def releaseLock(stateDir: String, token: String): Unit = {
    val f = lockFile(stateDir)
    try { if (Files.readString(f).trim == token) Files.delete(f) }
    catch { case _: java.nio.file.NoSuchFileException => () }
    heldTokens.remove(token)
  }

  /** Start the pipeline. `replayDir` holds parquet files in [[replaySchema]];
    * new files are new binlog segments.
    *
    * Each call runs in a cloned session. Build `spark` with
    * [[graft.Tables.session]], or set `spark.sql.artifact.isolation.enabled`
    * to false when creating it: with isolation on, every run gets a fresh
    * executor classloader and recompiles all of its generated code. The
    * setting cannot be changed on a session that already exists.
    *
    * The sink under `outDir` is the changelog; the current table state is
    * the t13b query over it, [[readMaterialized]]. */
  def start(
      spark: SparkSession,
      replayDir: String,
      outDir: String,
      checkpointDir: String,
      stateDir: String,
      maxFilesPerTrigger: Int = 1,
      statsSink: BatchStats => Unit = _ => ()): StreamingQuery = {

    // T37/T5 — metric node evaluated during the batch's first job (no
    // extra pass over the data): event/heartbeat counters, per-table
    // message counts (fixed whitelist → one sum(when) each), and the
    // heartbeat high-water timestamp the lag gauge derives from.
    val perTableCols = CdcSqlFragments.WHITELIST.map(t =>
      sum(when(col("kind") === "data" && col("base_table") === t, 1L)
        .otherwise(0L)).as(s"n_$t"))
    val observeCols: Seq[Column] = Seq(
      count(lit(1)).as("events"),
      sum(when(col("kind") === "heartbeat", 1L).otherwise(0L)).as("heartbeats"),
      max(when(col("kind") === "heartbeat", col("ts_us"))).as("hb_max_ts_us")
    ) ++ perTableCols

    // T3/T4/T7/T8 — the data rows the envelope is built from
    val isData = col("kind") === "data" && CdcOps.whitelisted && !CdcOps.blacklisted
    def dataRows(cached: DataFrame): DataFrame = CdcOps.retarget(cached.filter(isData))

    val replay = new Ingress {
      override def stream(source: DataFrame): DataFrame =
        CdcOps.admit(CdcReplay.fromEvents(source))
          .observe("cdc", observeCols.head, observeCols.tail: _*)

      // ONE scan of the cached batch (under AQE every scan of the not yet
      // materialized cache is a job of its own): each admitted event gives
      // its DDL row (T19 routing) or position row (T5/T27: the max binlog
      // coordinate and the latest heartbeat beacon), and each of the
      // [[dataRows]] also gives its table's key row
      def control(cached: DataFrame): Seq[DataFrame] = {
        val ddl = col("kind") === "ddl"
        val event = controlRow(when(ddl, "ddl").otherwise("pos"),
          "cluster" -> when(ddl, CdcSqlFragments.CLUSTER),
          "db" -> when(ddl, col("database_name")),
          "name" -> when(ddl, expr(CdcSqlFragments.DDL_STMT)),
          "at" -> when(ddl, col("event_id")),
          "p" -> struct(col("log_file"), col("log_pos")),
          "hb" -> when(col("kind") === "heartbeat", struct(col("event_id"), col("ts_us"))))
        val key = controlRow(lit("key"), "cluster" -> lit(CdcSqlFragments.CLUSTER),
          "db" -> col("database_name"), "name" -> col("base_table"))
        Seq(cached.select(inline(when(isData, array(event, key)).otherwise(array(event)))))
      }

      def outputs(cached: DataFrame, catalog: SchemaCatalog, keys: Seq[DataKey],
          typing: Seq[(DataKey, Seq[Typing])]): DataFrame = {
        // register unseen tables deterministically (keys arrive sorted),
        // then broadcast the registry
        keys.foreach { k =>
          val id = TableId(k.cluster, k.db, k.table)
          if (catalog.lookup(id).isEmpty) catalog.register(id, payloadStruct)
        }
        val regRows = catalog.all.toSeq.map { case (id, ts) =>
          (id.database, id.table, ts.schemaId, ts.containsPii)
        }
        val reg = spark.createDataFrame(regRows)
          .toDF("database_name", "target_table", "schema_id", "contains_pii")
        val env0 = CdcOps.envelope(CdcOps.typeTransforms(CdcOps.images(
          CdcOps.enrich(CdcOps.explodeRows(dataRows(cached)), reg))))

        // T22b — the data plane follows the CATALOG's evolved schemas: the
        // payload-version intervals come from the ALTER positions the
        // catalog recorded while applying DDL (in this batch's barrier and
        // in all prior batches — they ride the state snapshot through
        // recovery), so an ALTER changes the payload column set from its
        // binlog position onward. Interval construction is pure driver-
        // side arithmetic on control-plane state; the data side takes one
        // broadcast hash join.
        import spark.implicits._
        val intervals = catalog.alterEvents
          .groupBy(h => (h._1.database, h._1.table))
          .toSeq.flatMap { case ((db, tbl), es) =>
            val at = es.map(_._2).sorted
            at.zipWithIndex.map { case (from, idx) =>
              (db, tbl, idx + 2L, from, at.lift(idx + 1)) }
          }
          .toDF("database_name", "base_table", "version", "from_id", "to_id")
        CdcOps.evolvePayload(env0, intervals)
      }
    }

    run(spark, replaySchema, replay, replayDir, outDir, checkpointDir, stateDir,
      maxFilesPerTrigger, onProgress = e => {
        val m = e.progress.observedMetrics.get("cdc")
        if (m != null) statsSink(BatchStats(
          e.progress.batchId,
          m.getAs[Long]("events"),
          m.getAs[Long]("heartbeats"),
          Option(m.getAs[java.lang.Long]("hb_max_ts_us")).map(_.longValue),
          CdcSqlFragments.WHITELIST.map(t => t -> m.getAs[Long](s"n_$t")).toMap))
      })
  }

  /** Kafka-wire frame shape (what [[KafkaWire]] produces and a real broker
    * delivers): topic + binary key/value + headers. */
  val wireSchema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType)))))))

  /** Debezium-wire ingestion through the same commit step as [[start]],
    * from a Kafka-shaped stream carrying BOTH the connector's data topics
    * (`<cluster>.<db>.<table>`) and its schema-change topic (named exactly
    * `<cluster>` — Debezium's `topic.prefix` convention). Each data row
    * types under the catalog at its OWN position on the packed binlog
    * axis ([[graft.cdc.DebeziumAdapter.packedEventId]]): the DDL barrier
    * records each table's catalog answer between consecutive statements,
    * so a row before an in-batch ALTER keeps the pre-ALTER column set and
    * version (T22b parity with replay's intervals), and a row before an
    * in-batch CREATE or after a DROP is unregistered. Debezium delete
    * TOMBSTONES (null Kafka value) are dropped by contract; unparseable
    * records on either kind of topic are quarantined under
    * `topic=__unparsed`; rows for tables the schema-change topic has not
    * created, under `topic=__unregistered` (the reference fetches SHOW
    * CREATE on a miss — that needs a live MySQL, so the wire path records
    * instead of guessing).
    *
    * Scale: every row of a batch is typed by ONE projection ([[typedWire]])
    * whose plan and generated code are the same for any set of tables and
    * catalog answers; the sink repartition is the only shuffle.
    *
    * As for [[start]]: build `spark` with [[graft.Tables.session]] or with
    * `spark.sql.artifact.isolation.enabled=false`, or every run recompiles
    * its generated code.
    */
  def startWire(
      spark: SparkSession,
      wireDir: String,
      cluster: String,
      outDir: String,
      checkpointDir: String,
      stateDir: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    // the cached batch holds each frame's parse: `sc` on the
    // schema-change topic, `dv` on the data topics. A statement needs its
    // coordinates to be placed on the position axis; a frame without
    // them, and every other frame, is a data frame to [[typedWire]]
    val schemaTopic = col("topic") === cluster
    val isDdl = col("schema_topic") && col("sc.payload.ddl").isNotNull &&
      col("sc.payload.source.file").isNotNull && col("sc.payload.source.pos").isNotNull
    def changes(cached: DataFrame): DataFrame = DebeziumAdapter.schemaChangeRows(
      cached.filter(isDdl).select(col("sc").as("v")))
    def parsed(cached: DataFrame): DataFrame = DebeziumAdapter.changeRows(
      cached.filter(!isDdl).select(col("dv").as("v")))
    val coord = struct(col("log_file"), col("log_pos"))

    val wire = new Ingress {
      // One scan, one JSON parse per frame. A null Kafka value is a
      // Debezium delete TOMBSTONE on a data topic (compaction hint, no
      // image, no coordinates) — dropped by contract, the delete event
      // itself already carried the row — and carries no statement on the
      // schema-change topic.
      override def prepare(batch: DataFrame): DataFrame = {
        val json = col("value").cast("string")
        batch.filter(col("value").isNotNull).select(
          schemaTopic.as("schema_topic"),
          when(schemaTopic, from_json(json, DebeziumAdapter.schemaChangeSchema)).as("sc"),
          when(!schemaTopic, from_json(json, DebeziumAdapter.valueSchema)).as("dv"))
      }

      // the position mirror is the max binlog coordinate across data AND
      // schema-change events: a DDL-only batch still advances it, as the
      // reference's QueryEvent handling does
      def control(cached: DataFrame): Seq[DataFrame] = Seq(
        controlRows(changes(cached), lit("ddl"),
          "cluster" -> col("cluster_name"), "db" -> col("database_name"),
          "name" -> col("ddl"), "at" -> col("event_id"), "p" -> coord),
        controlRows(parsed(cached).filter(wireWellFormed), lit("key"),
          "cluster" -> lit(cluster), "db" -> col("database_name"),
          "name" -> col("table_name"), "pos" -> wirePos, "p" -> coord))

      def outputs(cached: DataFrame, catalog: SchemaCatalog, keys: Seq[DataKey],
          typing: Seq[(DataKey, Seq[Typing])]): DataFrame =
        typedWire(parsed(cached), typing)
    }
    run(spark, wireSchema, wire, wireDir, outDir, checkpointDir, stateDir, maxFilesPerTrigger)
  }

  // ---- the per-batch commit step both ingress paths share -------------

  /** What one source contributes to [[commit]]: its streaming plan over
    * the source files, the frame cached per batch, its [[controlRows]] and
    * the frame to publish after the DDL barrier. */
  private trait Ingress {
    def stream(source: DataFrame): DataFrame = source
    def prepare(batch: DataFrame): DataFrame = batch
    def control(cached: DataFrame): Seq[DataFrame]
    def outputs(cached: DataFrame, catalog: SchemaCatalog, keys: Seq[DataKey],
        typing: Seq[(DataKey, Seq[Typing])]): DataFrame
  }

  /** One DDL statement of a batch at its binlog position. */
  private[graft] final case class Ddl(cluster: String, db: String, stmt: String, at: Long)

  /** A data table present in a batch. `span` is the (min, max) position
    * of its rows where rows type by position (wire); None where the
    * catalog's ALTER intervals type them (replay). */
  private[graft] final case class DataKey(cluster: String, db: String, table: String,
      span: Option[(Long, Long)])

  /** How a table's rows type over part of a batch: the catalog's schema
    * and version there (None: not registered), and the [lo, hi) position
    * ranges that answer holds over (Long.MinValue / Long.MaxValue: open). */
  private[graft] final case class Typing(answer: Option[(TableSchema, Long)],
      ranges: Seq[(Long, Long)])

  /** The setup both entry points share: catalog restore (T30), the state
    * mirror, the source stream, checkpoint and trigger, the batchId
    * dedupe (T31) and the state save. Lifecycle: take the instance lock
    * (T35), restore the state under it, install the termination listener,
    * start the query. The run's durable state is ONE [[State]] value,
    * `committed`: each committed batch saves a new one, and the listener
    * saves it once more with the clean-shutdown flag (T34) before it
    * releases the lock — Spark posts termination on its asynchronous
    * listener bus, so the flag must be written while the lock still keeps
    * a new run of this `stateDir` out.
    * A `start()` that throws releases the lock before rethrowing. */
  private def run(spark: SparkSession, schema: StructType, src: Ingress, sourceDir: String,
      outDir: String, checkpointDir: String, stateDir: String,
      maxFilesPerTrigger: Int,
      onProgress: StreamingQueryListener.QueryProgressEvent => Unit = _ => ()
  ): StreamingQuery = {
    val token = acquireLock(stateDir)
    val catalog = new SchemaCatalog(piiTables = CdcSqlFragments.PII_TABLES.toSet)
    @volatile var committed: Option[State] = None
    @volatile var runId: String = null
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.runId.toString == runId) onProgress(e)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId.toString == runId) {
          if (e.exception.isEmpty) committed.map(_.copy(cleanShutdown = true))
            .foreach(saveState(stateDir, _)) // T34
          releaseLock(stateDir, token)
          spark.streams.removeListener(this)
        }
    }
    val query = try {
      // read under the lock: a run of this stateDir that has just stopped
      // has saved its clean flag by now
      committed = loadState(stateDir)
      committed.foreach(s => catalog.restore(s.catalogJson)) // T30 recovery
      spark.streams.addListener(listener)
      val stream = src.stream(spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(sourceDir))
      stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // T31: a batch at or below the committed one is a replay after a
          // restart whose side effects already committed — skip it
          // (offset-dedupe parity)
          if (committed.forall(batchId > _.lastBatchId)) {
            val position = commit(spark, src, batch, batchId, catalog, outDir)
            val s = State(batchId, catalog.snapshotJson, cleanShutdown = false,
              mergePosition(committed.fold(Map.empty[String, String])(_.position), position))
            saveState(stateDir, s)
            committed = Some(s)
          }
          ()
        }
        .start()
    } catch {
      case e: Throwable =>
        spark.streams.removeListener(listener)
        releaseLock(stateDir, token)
        throw e
    }
    heldTokens.get(token).set(query) // before runId: nothing can release it yet
    runId = query.runId.toString
    query
  }

  /** One micro-batch: control collect, DDL barrier, typed frame, staged
    * publish (see the object scaladoc). Returns the batch's position
    * mirror (a [[graft.cdc.LogPosition]] dict) — what the reference
    * persists as GlobalEventState.position. */
  private def commit(spark: SparkSession, src: Ingress, batch: DataFrame,
      batchId: Long, catalog: SchemaCatalog, outDir: String): Map[String, String] = {
    val cached = src.prepare(batch).persist()
    try {
      val (ddls, keys, position) = collectControl(src.control(cached))
      val typing = ddlBarrier(catalog, ddls, keys)
      afterDdlHook(batchId)
      publish(spark, outDir, batchId, src.outputs(cached, catalog, keys, typing))
      position
    } finally cached.unpersist()
  }

  /** Control rows, which every source unions into ONE aggregate — one
    * driver collect per batch however many statements, tables and
    * coordinates it holds. Kind `ddl`: name = statement, at = position;
    * kind `key`: name = table, min/max of `pos` = its rows' span; `p`/`hb`:
    * (log_file, log_pos) and heartbeat (serial, ts), maxed. */
  private val controlSchema = StructType.fromDDL(
    "kind STRING, cluster STRING, db STRING, name STRING, at BIGINT, pos BIGINT, " +
      "p STRUCT<log_file: STRING, log_pos: BIGINT>, hb STRUCT<serial: BIGINT, ts_us: BIGINT>")

  private def controlCols(kind: Column, cols: Seq[(String, Column)]): Seq[Column] = {
    val set = cols.toMap + ("kind" -> kind)
    controlSchema.fields.toIndexedSeq.map(f =>
      set.getOrElse(f.name, lit(null)).cast(f.dataType).as(f.name))
  }

  private def controlRows(df: DataFrame, kind: Column, cols: (String, Column)*): DataFrame =
    df.select(controlCols(kind, cols): _*)

  /** One control row as a struct, for a source that emits several kinds
    * of control row per input row from one scan. */
  private def controlRow(kind: Column, cols: (String, Column)*): Column =
    struct(controlCols(kind, cols): _*)

  /** DDL in position order, data tables sorted, and the position mirror
    * — empty for a batch admit emptied, which [[mergePosition]] keeps as
    * the previous position. */
  private def collectControl(
      rows: Seq[DataFrame]): (Seq[Ddl], Seq[DataKey], Map[String, String]) = {
    val got = rows.reduce(_ unionByName _)
      .groupBy("kind", "cluster", "db", "name", "at")
      .agg(min("pos"), max("pos"), max("p"), max("hb"))
      .collect().toSeq
    val ddls = got.filter(_.getString(0) == "ddl")
      .map(r => Ddl(r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(d => (d.at, d.stmt))
    val keys = got.filter(_.getString(0) == "key")
      .map(r => DataKey(r.getString(1), r.getString(2), r.getString(3),
        if (r.isNullAt(5)) None else Some((r.getLong(5), r.getLong(6)))))
      .sortBy(k => (k.db, k.table))
    val p = got.flatMap(r => Option(r.getStruct(7))).filterNot(_.anyNull)
      .map(s => (s.getString(0), s.getLong(1))).maxOption
    val hb = got.flatMap(r => Option(r.getStruct(8))).filterNot(_.anyNull)
      .map(s => (s.getLong(0), s.getLong(1))).maxOption
    val position = p.fold(Map.empty[String, String]) { case (file, pos) =>
      graft.cdc.LogPosition(
        logPos = Some(pos), logFile = Some(file),
        offset = Some(0), // batch boundaries are whole files
        hbSerial = hb.map(_._1), hbTimestamp = hb.map(_._2)).toDict
    }
    (ddls, keys, position)
  }

  /** The DDL barrier (T24): apply the batch's statements in position
    * order. They cut the position axis into segments; just before each
    * segment's closing statement (and after the last), record the
    * catalog's answer for every key whose span reaches that segment.
    * Returns each spanned key's answers with the ranges they hold over. */
  private[graft] def ddlBarrier(catalog: SchemaCatalog, ddls: Seq[Ddl],
      keys: Seq[DataKey]): Seq[(DataKey, Seq[Typing])] = {
    val at = ddls.map(_.at).toIndexedSeq
    def segOf(pos: Long) = at.count(_ <= pos)
    def range(seg: Int) = (if (seg == 0) Long.MinValue else at(seg - 1),
      if (seg == at.size) Long.MaxValue else at(seg))
    val spanned = keys.flatMap(k => k.span.map { case (lo, hi) =>
      (k, segOf(lo), segOf(hi), Vector.newBuilder[(Int, Option[(TableSchema, Long)])])
    })
    def record(seg: Int): Unit = {
      lazy val alters = catalog.alterEvents.groupMapReduce(_._1)(_ => 1L)(_ + _)
      spanned.foreach { case (k, first, last, seen) =>
        if (first <= seg && seg <= last) {
          val id = TableId(k.cluster, k.db, k.table)
          seen += seg -> catalog.lookup(id).map(_ -> (1L + alters.getOrElse(id, 0L)))
        }
      }
    }
    ddls.zipWithIndex.foreach { case (d, seg) =>
      record(seg)
      catalog.applyDdl(d.cluster, d.db, d.stmt, atEventId = d.at)
    }
    record(ddls.size)
    spanned.map { case (k, _, _, seen) =>
      val segs = seen.result()
      k -> segs.map(_._2).distinct.map { answer =>
        // adjacent segments with the same answer merge into one range
        val ranges = segs.collect { case (s, a) if a == answer => range(s) }
          .foldLeft(Vector.empty[(Long, Long)]) {
            case (acc :+ ((lo, hi)), (from, to)) if hi == from => acc :+ ((lo, to))
            case (acc, r) => acc :+ r
          }
        Typing(answer, ranges)
      }
    }
  }

  /** A parsed wire row the commit step can type: identity AND coordinates
    * (a null log_file/log_pos gives a null [[wirePos]]). */
  private val wireWellFormed = col("database_name").isNotNull && col("table_name").isNotNull &&
    col("log_file").isNotNull && col("log_pos").isNotNull

  private val wirePos = DebeziumAdapter.packedEventId(col("log_file"), col("log_pos"))

  /** Debezium row image: a delete carries its image in `before`. */
  private val wireImage = when(col("message_type") === "delete", col("before"))
    .otherwise(col("after"))

  private val wireMeta = Seq(col("message_type"), col("log_file"),
    col("log_pos"), col("row_idx"), col("ts_us"), col("transaction_id"),
    concat_ws(":", col("log_file"),
      lpad(col("log_pos").cast("string"), 10, "0"),
      lpad(col("row_idx").cast("string"), 4, "0")).as("pos_key"))

  /** [[typedWire]]'s lookup: a registered catalog answer of a table over
    * the position range [lo, hi) (None: open), with its ordered fields.
    * `key` is the field's name as the JSON generator writes it, with the
    * colon. */
  private[streaming] final case class WireTable(db: String, table: String)
  private[streaming] final case class WireField(key: String, name: String, tpe: String)
  private[streaming] final case class WireAnswer(lo: Option[Long], hi: Option[Long],
      topic: String, schemaId: Int, pii: Boolean, version: Long, fields: Seq[WireField])

  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** `"name":` as `to_json` writes a field name: Spark's JSON generator is
    * Jackson's default one. */
  private def jsonKey(name: String): String = {
    val w = new java.io.StringWriter
    val g = jsonFactory.createGenerator(w)
    g.writeString(name)
    g.close()
    w.toString + ":"
  }

  /** A string image value as catalog type `t`. Debezium sends a SET as its
    * comma-joined members, which no cast reads. */
  private def asType(v: Column, t: DataType): Column = t match {
    case ArrayType(StringType, _) => when(v === "", array().cast(t)).otherwise(split(v, ","))
    case _ => v.cast(t)
  }

  /** The wire sink's rows in ONE projection over the parsed frames, the
    * reference's per-table handler folded into a lookup: the DDL barrier's
    * answers become one literal map from (db, table) to the answers'
    * position ranges, and each row takes the answer whose range holds its
    * position. Complex literals are reference objects in generated code,
    * and the type CASE runs inside interpreted lambdas, so the plan and
    * its generated code are the same for any tables, answers and types.
    * `payload_json` renders each field as `to_json(array(cast(v AS T)))`
    * with its brackets stripped — the generator `to_json(struct(…))` uses
    * — and drops null fields as it does. A row without identity or
    * coordinates goes to `__unparsed`, a row of a table without a catalog
    * answer at its position to `__unregistered`, both with the raw image. */
  private[graft] def typedWire(rows: DataFrame, typing: Seq[(DataKey, Seq[Typing])]): DataFrame = {
    val answers = typing.map { case (k, ts) =>
      WireTable(k.db, k.table) -> ts.flatMap { t =>
        t.answer.toSeq.flatMap { case (schema, version) =>
          val fields = schema.struct.fields.toSeq.map(f =>
            WireField(jsonKey(f.name), f.name, f.dataType.catalogString))
          // a table's only answer holds over all of its rows
          val ranges = if (ts.size == 1) Seq((Long.MinValue, Long.MaxValue)) else t.ranges
          ranges.map { case (lo, hi) =>
            WireAnswer(Some(lo).filter(_ != Long.MinValue), Some(hi).filter(_ != Long.MaxValue),
              s"${k.db}.${k.table}", schema.schemaId, schema.containsPii, version, fields)
          }
        }
      }
    }.toMap
    // sorted, so one set of types gives one CASE
    val types = typing.flatMap(_._2).flatMap(_.answer)
      .flatMap(_._1.struct.fields.map(_.dataType))
      .groupBy(_.catalogString).toSeq.sortBy(_._1).map(_._2.head)

    val pos = col("__pos")
    val inRange = (a: Column) =>
      (a("lo").isNull || pos >= a("lo")) && (a("hi").isNull || pos < a("hi"))
    val lookup = typedLit(answers)
      .getItem(struct(col("database_name").as("db"), col("table_name").as("table")))
    def rendered(f: Column): Column = {
      val v = col("__image").getItem(f("name"))
      types.map(t => (f("tpe") === t.catalogString, to_json(array(asType(v, t))))) match {
        case Seq() => lit(null).cast(StringType)
        case (c, r) +: rest => rest.foldLeft(when(c, r)) { case (acc, (c, r)) => acc.when(c, r) }
      }
    }
    val parts = transform(col("__a.fields"), f => struct(f("key").as("k"), rendered(f).as("j")))
    val payload = concat(lit("{"), array_join(transform(parts, p => when(p("j") =!= "[null]",
      concat(p("k"), p("j").substr(lit(2), length(p("j")) - 2)))), ","), lit("}"))

    rows.select(col("*"), wirePos.as("__pos"), wireImage.as("__image"))
      .select(col("*"), when(wireWellFormed, get(filter(lookup, inRange), lit(0))).as("__a"))
      .select(Seq(
        coalesce(col("__a.topic"),
          when(wireWellFormed, lit("__unregistered")).otherwise(lit("__unparsed"))).as("topic"),
        coalesce(col("__a.schemaId"), lit(-1)).as("schema_id"),
        coalesce(col("__a.pii"), lit(false)).as("contains_pii"),
        coalesce(col("__a.version"), lit(0L)).as("schema_version"),
        when(col("__a").isNull, to_json(col("__image"))).otherwise(payload).as("payload_json")
      ) ++ wireMeta: _*)
  }

  /** T26 sink, one protocol for both sources: the batch's frame is
    * written, one partition per topic sorted by pos_key, into a
    * DOT-PREFIXED staging directory (hidden from Spark/Hadoop file
    * listing), and ONE rename publishes it as `batch=<id>` — the atomic
    * publish point on a local FS / HDFS, so a reader listing `batch=`
    * directories never observes a partly written one. A replayed/crashed
    * attempt may have left either directory, so both are cleared first.
    * Every committed batch has its `batch=<id>` directory, empty for a
    * DDL-only batch. */
  private def publish(spark: SparkSession, outDir: String, batchId: Long,
      frame: DataFrame): Unit = {
    val target = new Path(s"$outDir/batch=$batchId")
    val stage = new Path(s"$outDir/.batch_$batchId.staging")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(stage, true)
    fs.delete(target, true)
    sinkOrder(frame).write.parquet(stage.toString)
    if (!fs.rename(stage, target))
      throw new java.io.IOException(s"failed to publish $stage -> $target")
  }

  /** The sink's layout: one partition per topic, sorted by pos_key. */
  private[graft] def sinkOrder(frame: DataFrame): DataFrame =
    frame.repartition(col("topic")).sortWithinPartitions("pos_key")

  /** Test injection point: runs after the DDL branch of a batch has been
    * applied to the catalog but BEFORE the data write and state save —
    * throwing here simulates the reference's mid-DDL crash
    * (failure_recovery_test.py:493+). */
  private[streaming] var afterDdlHook: Long => Unit = _ => ()

  /** Positions only ADVANCE (the reference updates GlobalEventState as it
    * processes, never backwards): keep the larger (log_file, log_pos)
    * coordinate and, independently, the larger heartbeat serial — a batch
    * holding earlier binlog segments must not regress either. */
  private[streaming] def mergePosition(
      prev: Map[String, String], next: Map[String, String]): Map[String, String] =
    if (prev.isEmpty) next
    else {
      def coord(m: Map[String, String]) =
        (m.getOrElse("log_file", ""), m.get("log_pos").map(_.toLong).getOrElse(0L))
      def hbSerial(m: Map[String, String]) =
        m.get("hb_serial").map(_.toLong).getOrElse(-1L)
      val coordKeys = Set("log_file", "log_pos", "offset")
      val hbKeys = Set("hb_serial", "hb_timestamp")
      val c = if (Ordering.Tuple2[String, Long].gteq(coord(next), coord(prev))) next else prev
      val h = if (hbSerial(next) >= hbSerial(prev)) next else prev
      c.filter(e => coordKeys(e._1)) ++ h.filter(e => hbKeys(e._1))
    }

  /** `<prefix><id>` child dirs of `dir` by id, listed through the Hadoop
    * FS API so a non-local outDir (HDFS/S3) lists correctly — java.io.File
    * returns null there, which would silently present an empty state. A
    * missing dir is a legitimate empty state; any OTHER failure
    * (permission, transient FS error) propagates loudly. */
  private def childDirs(spark: SparkSession, dir: String, prefix: String): Seq[(Long, Path)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => (s.getPath.getName.stripPrefix(prefix).toLong, s.getPath))
      .sortBy(_._1)
  }

  /** The t13b latest-state query over the committed changelog (T13: the
    * reference keeps no materialized table; the current state is a query
    * over the published changes). Reads the `batch=<id>` directories of
    * `outDir` listed by [[childDirs]], so a dot-prefixed staging directory
    * is never read; keeps the `rows` it is asked about; per `identity`,
    * ONE `max_by(struct(pos_key, image…), pos_key)` aggregate (map-side
    * combinable: one hash shuffle on identity, never a sort) keeps the
    * binlog-latest image; a row whose latest change is a delete is gone.
    * Delete tombstones stay in the changelog, so a change that arrives late
    * with a lower pos_key than a delete still loses. Returns the identity
    * columns, then pos_key and `image`. */
  private[streaming] def latestState(spark: SparkSession, outDir: String, rows: Column,
      identity: Seq[Column], image: Seq[String]): DataFrame = {
    val batches = childDirs(spark, outDir, "batch=").map(_._2.toString)
    require(batches.nonEmpty, s"no committed batch= dirs under $outDir")
    val latest = spark.read.parquet(batches: _*).filter(rows)
      .groupBy(identity: _*)
      .agg(max_by(struct(("pos_key" +: image).map(col): _*), col("pos_key")).as("s"))
    latest.select(latest.columns.filterNot(_ == "s").map(col) :+ col("s.*"): _*)
      .filter(col("message_type") =!= "delete")
  }

  /** Current table state of a [[start]] sink (live rows only): the latest
    * image per (database_name, table_name, payload_id) over `outDir`. */
  def readMaterialized(spark: SparkSession, outDir: String): DataFrame =
    latestState(spark, outDir, lit(true),
      Seq("database_name", "table_name", "payload_id").map(col),
      Seq("message_type", "payload_value", "payload_k", "schema_version", "payload_json"))

  /** [[compactWireBatches]] report: merged spans as (lo, hi) id pairs,
    * batch-directory and data-file counts before/after. */
  case class WireCompaction(spans: Seq[(Long, Long)], dirsBefore: Long,
      dirsAfter: Long, filesBefore: Long, filesAfter: Long)

  /** Wire-sink maintenance — the `batch=<id>` small-files/small-dirs leg
    * of the cell layout's `compactCellLayout` (r10): [[startWire]]
    * publishes one directory per micro-batch, each holding one file per
    * written topic partition — at a 1-minute trigger that is
    * ~1,440 directories/day and growing forever. This call merges spans
    * of OLD batch directories into one single-file directory each,
    * preserving the sink's contracts:
    *
    *  - the newest `retainLast` batch ids are NEVER touched
    *    (byte-identical): that window is where restart replay (the
    *    state mirror's `lastBatchId`) and incremental consumers operate,
    *    so their `batch=<id>` keys stay stable;
    *  - older ids merge in consecutive groups into the group's HIGHEST
    *    id (re-keying, the contract VERDICT r10 allows past the retained
    *    window): the span dir holds the union of its batches' rows in
    *    ONE file sorted by (topic, pos_key) — the row set is preserved
    *    exactly and per-topic order is preserved because pos_key is the
    *    binlog coordinate, monotone across batches, the same order the
    *    uncompacted dirs expose;
    *  - a group closes when its combined batch WEIGHT (original
    *    micro-batch count, carried in a `_span_w<n>` marker) reaches
    *    `spanSize`; the resulting span is SEALED and never rewritten
    *    again, so each batch's rows are rewritten exactly ONCE across
    *    all maintenance calls (directory count converges to
    *    ~n/spanSize + a partial tail, e.g. 1,440/day → 23 sealed
    *    dirs/day at spanSize 64);
    *  - a partial tail (combined weight < spanSize) and sealed spans are
    *    compliant — untouched, byte-identical — so the call is
    *    idempotent until new batches age past the retained window;
    *  - full expiry is the separate [[expireWireBatches]] lever.
    *
    * Crash safety mirrors the sink's staged-rename publish: the merged
    * span writes to a DOT-PREFIXED staging dir, a `._compact_<lo>_<hi>
    * .commit` marker is created LAST (the commit point), and only then
    * are the source dirs deleted and the staging renamed to
    * `batch=<hi>`; the next call finishes any half-applied span from its
    * marker before measuring anything. Between delete and rename the
    * span's rows are only in the (hidden) staging dir, so like
    * `compactCellLayout` this is a maintenance operation for a window
    * when no reader lists batch dirs — the sink itself keeps publishing
    * new ids concurrently without conflict (they land above the retained
    * window). */
  def compactWireBatches(spark: SparkSession, outDir: String,
      retainLast: Int = 8, spanSize: Int = 64): WireCompaction = {
    require(retainLast >= 1 && spanSize >= 2)
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new Path(s)
    def batchDirs() = childDirs(spark, outDir, "batch=")

    def finishSpan(lo: Long, hi: Long): Unit = {
      val staging = path(s"$outDir/.span_${lo}_$hi.staging")
      // staging present ⇒ the span's rows live there: retire ALL source
      // dirs in [lo, hi] (including the original batch=<hi>), then
      // publish. Staging absent ⇒ the rename already happened and
      // batch=<hi> IS the published span — retire only [lo, hi).
      val stagingExists = fs.exists(staging)
      val retireUpTo = if (stagingExists) hi else hi - 1
      batchDirs()
        .filter { case (id, _) => id >= lo && id <= retireUpTo }
        .foreach { case (_, p) => fs.delete(p, true) }
      if (stagingExists &&
          !fs.rename(staging, path(s"$outDir/batch=$hi")))
        throw new java.io.IOException(
          s"wire compaction: failed to publish $staging -> batch=$hi")
      fs.delete(path(s"$outDir/._compact_${lo}_$hi.commit"), false)
    }

    // ---- recovery: a marker means the span was fully staged — finish it
    // (staging gone ⇒ the rename already happened; only the cleanup and
    // marker delete can be outstanding)
    val commitRe = "^\\._compact_(\\d+)_(\\d+)\\.commit$".r
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case commitRe(lo, hi) => finishSpan(lo.toLong, hi.toLong)
        case _ => ()
      }
    }

    def dataFiles(p: Path): Long =
      fs.listStatus(p).count { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.toLong

    // a span dir carries its batch weight (how many ORIGINAL micro-
    // batches it holds) in a `_span_w<n>` marker; an unmarked dir is one
    // micro-batch. A dir whose weight reached spanSize is SEALED — done
    // forever — so every batch row is rewritten exactly once, not once
    // per maintenance call.
    val weightRe = "^_span_w(\\d+)$".r
    def weightOf(p: Path): Long =
      fs.listStatus(p).map(_.getPath.getName).collectFirst {
        case weightRe(w) => w.toLong
      }.getOrElse(1L)

    val before = batchDirs()
    val filesBefore = before.map(d => dataFiles(d._2)).sum
    // accumulate consecutive UNSEALED dirs until the combined weight
    // reaches spanSize; sealed dirs are boundaries; a partial tail waits
    // for future batches to age past the retained window
    val eligible = before.dropRight(retainLast)
      .map { case (id, p) => (id, p, weightOf(p)) }
    val groups = Seq.newBuilder[Seq[(Long, Path, Long)]]
    var acc = Vector.empty[(Long, Path, Long)]
    var accW = 0L
    eligible.foreach { d =>
      if (d._3 >= spanSize) { acc = Vector.empty; accW = 0 } // sealed
      else {
        acc :+= d; accW += d._3
        if (accW >= spanSize && acc.size >= 2) {
          groups += acc; acc = Vector.empty; accW = 0
        }
      }
    }
    val spans = groups.result()
    spans.foreach { grp =>
      val lo = grp.head._1
      val hi = grp.last._1
      val staging = path(s"$outDir/.span_${lo}_$hi.staging")
      fs.delete(staging, true) // residue of a crash BEFORE the marker
      val withRows = grp.filter { case (_, p, _) => dataFiles(p) > 0 }
      if (withRows.nonEmpty)
        // one sorted file per span: the span is a bounded maintenance
        // unit (≤ spanSize micro-batches), the cell-compaction class —
        // not a data-scaled global sort
        spark.read.parquet(withRows.map(_._2.toString): _*)
          .repartition(1).sortWithinPartitions("topic", "pos_key")
          .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      else
        fs.mkdirs(staging) // all-empty span (DDL-only batches): the
                           // batch=<hi> dir must still exist (sink contract)
      fs.create(path(s"$outDir/.span_${lo}_$hi.staging/_span_w${grp.map(_._3).sum}"),
        true).close()
      fs.create(path(s"$outDir/._compact_${lo}_$hi.commit"), true).close()
      finishSpan(lo, hi)
    }
    val after = batchDirs()
    WireCompaction(spans.map(g => (g.head._1, g.last._1)),
      before.size.toLong, after.size.toLong,
      filesBefore, after.map(d => dataFiles(d._2)).sum)
  }

  /** Wire-sink retention — the other maintenance lever: delete batch (or
    * span) directories whose ids fall ENTIRELY below `belowId`. Sink ids
    * are monotone in time, so "expire data older than D days" is
    * `belowId` = the first batch id committed inside the retention
    * window. A span dir `batch=<hi>` holds ids ≤ hi only, so the id test
    * is exact. Returns the deleted ids. */
  def expireWireBatches(spark: SparkSession, outDir: String,
      belowId: Long): Seq[Long] = {
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    childDirs(spark, outDir, "batch=")
      .filter(_._1 < belowId)
      .map { case (id, p) => fs.delete(p, true); id }
  }

  /** T26 Kafka wire shape: the envelope mapped to the kafka sink contract
    * (topic/key/value/headers). The reference's real sink is an async Kafka
    * producer flushed per batch (base_parse_replication_stream.py:207-221);
    * here the frame is writable with `.write.format("kafka")` — wiring is
    * plan-tested only, as no broker exists in this environment. `key` is
    * the per-topic ordering key (pos_key), so a keyed partitioner preserves
    * the per-row ordering contract; headers carry schema_id + transaction
    * id, matching the reference's message metadata. */
  def kafkaFrame(env: DataFrame): DataFrame =
    env.select(
      col("topic"),
      col("pos_key").cast("binary").as("key"),
      to_json(struct(env.columns.toIndexedSeq.map(col): _*)).cast("binary").as("value"),
      array(
        struct(lit("schema_id").as("key"), col("schema_id").cast("string").cast("binary").as("value")),
        struct(lit("transaction_id").as("key"), col("transaction_id").cast("binary").as("value"))
      ).as("headers"))
}
