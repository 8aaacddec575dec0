package graft.streaming

import graft.Tables
import graft.cdc.CdcOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end streaming semantics (SURVEY §7.2 minimum slice + §7.4 risks):
  * source → filters → explode → registry join → envelope → sink with
  * checkpoint, then a restart that must produce no duplicates and no loss
  * (reference failure_recovery_test.py:227-349 behavior, minus MySQL/Kafka).
  */
class CdcPipelineSpec extends AnyFunSuite {

  // Tables.session, NOT a bare builder: getOrCreate would otherwise let
  // this suite win the JVM-wide session race WITHOUT GraftExtensions,
  // breaking any concurrently-run suite that needs the native functions
  private lazy val spark = Tables.session("cdc-pipeline-spec", "4")

  private val sfDir = "/root/testdata/sf0.001"

  /** Write the events table as N replay segment files — one parquet file
    * per segment (a hash repartition can collapse segments into one file,
    * which silently turns the multi-batch tests into single-batch ones). */
  private def writeSegments(dir: String, parts: Int): Unit = {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts_us")
    (0 until parts).foreach { i =>
      ev.filter(pmod(col("event_id"), lit(parts)) === i)
        .coalesce(1)
        .write.mode("append").parquet(dir)
    }
  }

  test("streaming pipeline matches the batch pipeline and survives restart without dupes") {
    val root = Files.createTempDirectory("cdc-pipeline").toString
    val replayDir = s"$root/replay"
    val outDir = s"$root/out"
    val ckDir = s"$root/checkpoint"
    val stDir = s"$root/state"
    writeSegments(replayDir, 3)

    // first run: process everything available in ≥3 micro-batches
    val q1 = CdcPipeline.start(spark, replayDir, outDir, ckDir, stDir)
    q1.awaitTermination()

    val expected = CdcOps.pipeline(Tables.events(spark, sfDir))
      .select("event_id", "row_idx", "topic", "payload_id", "pos_key",
        "message_type", "payload_value", "ts_iso")
    val got = spark.read.parquet(outDir)
      .select("event_id", "row_idx", "topic", "payload_id", "pos_key",
        "message_type", "payload_value", "ts_iso")
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "streaming envelope must equal batch envelope")

    // T27/T28 — the state mirror carries the reference-shaped position:
    // the max binlog coordinate of the stream plus the latest heartbeat
    // beacon, reconstructible through the Position ADT
    val savedPos = graft.cdc.Position.construct(CdcPipeline.loadState(stDir).get.position)
    savedPos match {
      case lp: graft.cdc.LogPosition =>
        // position advances on ADMITTED events (the reference updates it
        // as it processes; only_events-filtered kinds don't move it)
        val expMax = CdcOps.admit(graft.cdc.CdcReplay.fromEvents(Tables.events(spark, sfDir)))
          .agg(max(struct(col("log_file"), col("log_pos")))).collect()(0).getStruct(0)
        assert(lp.logFile.contains(expMax.getString(0)) && lp.logPos.contains(expMax.getLong(1)))
        assert(lp.hbSerial.nonEmpty && lp.hbTimestamp.nonEmpty,
          "position must carry the latest heartbeat beacon")
        assert(lp.toReplicationDict.keySet == Set("log_pos", "log_file"))
      case other => fail(s"expected a LogPosition, got $other")
    }

    // restart with no new input: no duplicates may appear, and the restored
    // catalog must be byte-identical (T25/T30 snapshot round-trip)
    val catBefore = CdcPipeline.loadState(stDir).get.catalogJson
    val q2 = CdcPipeline.start(spark, replayDir, outDir, ckDir, stDir)
    q2.awaitTermination()
    assert(spark.read.parquet(outDir).count() == expected.count(),
      "restart with no new data must not re-publish")
    assert(CdcPipeline.loadState(stDir).get.catalogJson == catBefore,
      "idle restart must not change the catalog")

    // new segment arrives (re-keyed ids so they are new events)
    Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts_us")
      .limit(200)
      .withColumn("event_id", col("event_id") + 1000000L)
      .coalesce(1).write.mode("append").parquet(replayDir)

    val q3 = CdcPipeline.start(spark, replayDir, outDir, ckDir, stDir)
    q3.awaitTermination()

    val after = spark.read.parquet(outDir)
    assert(after.count() > expected.count(), "new segment must be published")
    // old rows still exactly once
    val oldRows = after.filter(col("event_id") < 1000000L)
    assert(oldRows.count() == expected.count())
    // catalog evolved (the new segment carries DDLs) but stays restorable
    val catAfter = CdcPipeline.loadState(stDir).get.catalogJson
    val restored = new graft.catalog.SchemaCatalog()
    restored.restore(catAfter)
    assert(restored.all.nonEmpty)
  }

  private def eventually[A](timeoutMs: Long = 10000)(f: => A): A = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last: Throwable = null
    while (System.currentTimeMillis() < deadline) {
      try return f
      catch { case t: Throwable => last = t; Thread.sleep(100) }
    }
    throw last
  }

  test("observe metrics, clean-shutdown flag, and instance lock (T34/T35/T37)") {
    val root = Files.createTempDirectory("cdc-obs").toString
    writeSegments(s"$root/replay", 2)
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[CdcPipeline.BatchStats]()
    val q = CdcPipeline.start(spark, s"$root/replay", s"$root/out", s"$root/ck",
      s"$root/st", statsSink = stats.add)
    q.awaitTermination()

    // T37 — per-table counters from the observe node must equal the true
    // per-table input counts (reference flushes per-table message counters;
    // parse_replication_stream_internal.py:47-88)
    eventually() { assert(!stats.isEmpty) }
    import scala.jdk.CollectionConverters._
    val all = stats.asScala.toSeq
    val expected = CdcOps.dataOnly(CdcOps.admit(
      graft.cdc.CdcReplay.fromEvents(Tables.events(spark, sfDir))))
      .groupBy("base_table").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val counted = all.flatMap(_.perTable.toSeq).groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).sum }
    expected.foreach { case (t, n) =>
      if (counted.contains(t)) assert(counted(t) == n, s"counter mismatch for $t")
    }
    // T5 — heartbeat high-water mark yields a finite lag gauge
    val hbStats = all.filter(_.heartbeats > 0)
    assert(hbStats.nonEmpty)
    assert(hbStats.forall(_.lagSeconds(System.currentTimeMillis() * 1000).exists(_ > 0)))

    // T34 — listener marked the state clean after graceful termination
    eventually() {
      assert(CdcPipeline.loadState(s"$root/st").exists(_.cleanShutdown))
    }
    // T35 — lock released after termination; a fresh start re-acquires
    eventually() {
      assert(!Files.exists(java.nio.file.Paths.get(s"$root/st", "lock")))
    }
  }

  test("mid-DDL crash: replayed batch re-applies DDL idempotently, no output dupes") {
    // reference failure_recovery_test.py:493+ kills the process between the
    // schema-event apply and the state save, then asserts the restart
    // restores and re-applies cleanly. Here: throw after the DDL branch of
    // the FIRST unseen batch (catalog mutated in memory, nothing persisted),
    // restart, and require identical results to a never-crashed run.
    val root = Files.createTempDirectory("cdc-crash").toString
    writeSegments(s"$root/replay", 3)
    val cleanRoot = Files.createTempDirectory("cdc-crash-clean").toString
    writeSegments(s"$cleanRoot/replay", 3)

    // reference run without a crash
    val qc = CdcPipeline.start(spark, s"$cleanRoot/replay", s"$cleanRoot/out",
      s"$cleanRoot/ck", s"$cleanRoot/st")
    qc.awaitTermination()

    // crashing run: die mid-batch once, at the second batch
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    CdcPipeline.afterDdlHook = { batchId =>
      if (batchId == 1 && crashed.compareAndSet(false, true))
        throw new RuntimeException("injected mid-DDL crash")
    }
    try {
      val q1 = CdcPipeline.start(spark, s"$root/replay", s"$root/out", s"$root/ck", s"$root/st")
      intercept[Exception] { q1.awaitTermination() }
    } finally CdcPipeline.afterDdlHook = _ => ()
    assert(crashed.get, "the injected crash must have fired")
    // the crashed batch must not have been committed
    assert(CdcPipeline.loadState(s"$root/st").get.lastBatchId == 0L)

    // restart: batch 1 replays (DDLs re-applied on the restored catalog)
    val q2 = CdcPipeline.start(spark, s"$root/replay", s"$root/out", s"$root/ck", s"$root/st")
    q2.awaitTermination()

    // output identical to the never-crashed run — no dupes, no loss
    val got = spark.read.parquet(s"$root/out").drop("batch")
    val want = spark.read.parquet(s"$cleanRoot/out").drop("batch")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // catalog state identical too: schema ids minted during the replayed
    // DDL apply equal the ones a crash-free run mints (idempotence)
    assert(CdcPipeline.loadState(s"$root/st").get.catalogJson ==
      CdcPipeline.loadState(s"$cleanRoot/st").get.catalogJson)
  }

  test("kafka sink frame carries topic/key/value/headers in the kafka contract shape") {
    import org.apache.spark.sql.types._
    val env = CdcOps.pipeline(Tables.events(spark, sfDir))
    val kf = CdcPipeline.kafkaFrame(env)
    val schema = kf.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(schema("topic") == StringType)
    assert(schema("key") == BinaryType)
    assert(schema("value") == BinaryType)
    val hdrElem = schema("headers").asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(hdrElem.fieldNames.toSeq == Seq("key", "value"))
    assert(hdrElem("key").dataType == StringType && hdrElem("value").dataType == BinaryType)
    // key preserves the per-topic ordering key; headers carry the metadata
    val row = kf.orderBy("topic", "key").limit(1).collect()(0)
    val first = env.orderBy("topic", "pos_key").limit(1).collect()(0)
    assert(new String(row.getAs[Array[Byte]]("key")) == first.getAs[String]("pos_key"))
    val hdrs = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("headers"))
    assert(hdrs.map(_.getString(0)) == Seq("schema_id", "transaction_id"))
  }

  test("a fully-filtered batch neither crashes nor moves the position") {
    // a segment whose every event is dropped by admit (kind='other':
    // event_type='error' with k%5=4) reaches foreachBatch as ZERO rows —
    // the position aggregate must tolerate that and keep the prior state
    val root = Files.createTempDirectory("cdc-empty").toString
    import spark.implicits._
    Seq((5000000L, 1L, "error", 0.5, """{"k": 4}""", 1700000000000000L))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_us")
      .coalesce(1).write.mode("append").parquet(s"$root/replay")
    val q = CdcPipeline.start(spark, s"$root/replay", s"$root/out", s"$root/ck", s"$root/st")
    q.awaitTermination()
    val st = CdcPipeline.loadState(s"$root/st").get
    assert(st.lastBatchId == 0L)
    assert(st.position.isEmpty, s"position must not move on a filtered batch: ${st.position}")
  }

  test("per-topic output preserves binlog order (SURVEY §7.4 risk 3)") {
    val root = Files.createTempDirectory("cdc-order").toString
    writeSegments(s"$root/replay", 2)
    val q = CdcPipeline.start(spark, s"$root/replay", s"$root/out", s"$root/ck", s"$root/st")
    q.awaitTermination()
    // within every output file, pos_key must be non-decreasing (files are
    // written one-partition-per-topic, sorted)
    val byFile = spark.read.parquet(s"$root/out")
      .withColumn("file", input_file_name())
      .select("file", "topic", "pos_key")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("file").orderBy(monotonically_increasing_id())
    // simpler: per (file, topic), check max(pos_key) ordering via collect
    val rows = byFile.collect()
    val grouped = rows.groupBy(r => (r.getString(0), r.getString(1)))
    grouped.foreach { case ((f, t), rs) =>
      val keys = rs.map(_.getString(2)).toSeq
      assert(keys == keys.sorted, s"pos_key order violated in $f topic $t")
    }
  }

  test("materialized snapshot equals the batch t13b over the same changelog") {
    val root = Files.createTempDirectory("cdc-mat").toString
    writeSegments(s"$root/replay", 3)
    val q = CdcPipeline.start(spark, s"$root/replay", s"$root/out",
      s"$root/ck", s"$root/state")
    q.awaitTermination()

    // batch truth: latest image per row identity, deletes dropped — the
    // t13b formulation over the full envelope
    val env = CdcOps.pipeline(Tables.events(spark, sfDir))
    val expected = env.groupBy("database_name", "table_name", "payload_id")
      .agg(expr("max_by(message_type, pos_key)").as("message_type"),
        expr("max_by(payload_value, pos_key)").as("payload_value"))
      .filter(col("message_type") =!= "delete")
      .select("database_name", "table_name", "payload_id", "message_type",
        "payload_value")
    val got = CdcPipeline.readMaterialized(spark, s"$root/out")
      .select("database_name", "table_name", "payload_id", "message_type",
        "payload_value")
    assert(got.count() == expected.count(),
      s"snapshot rows ${got.count()} != batch ${expected.count()}")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "materialized snapshot diverges from batch t13b")
  }

  test("crash between snapshot writes: replay converges the materialized state") {
    // crash mid-batch (after the batch's DDL, before its publish), restart,
    // and require the latest state read off the changelog to equal the
    // batch truth — the replayed batch's publish must leave no duplicate
    // or missing change for the reader to fold
    val root = Files.createTempDirectory("cdc-mat-crash").toString
    writeSegments(s"$root/replay", 3)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    CdcPipeline.afterDdlHook = { batchId =>
      if (batchId == 1 && crashed.compareAndSet(false, true))
        throw new RuntimeException("injected crash mid-batch")
    }
    try {
      val q1 = CdcPipeline.start(spark, s"$root/replay", s"$root/out",
        s"$root/ck", s"$root/st")
      intercept[Exception] { q1.awaitTermination() }
    } finally CdcPipeline.afterDdlHook = _ => ()
    assert(crashed.get)
    CdcPipeline.start(spark, s"$root/replay", s"$root/out",
      s"$root/ck", s"$root/st")
      .awaitTermination()

    val env = CdcOps.pipeline(Tables.events(spark, sfDir))
    val expected = env.groupBy("database_name", "table_name", "payload_id")
      .agg(expr("max_by(message_type, pos_key)").as("message_type"),
        expr("max_by(payload_value, pos_key)").as("payload_value"))
      .filter(col("message_type") =!= "delete")
      .select("database_name", "table_name", "payload_id", "payload_value")
    val got = CdcPipeline.readMaterialized(spark, s"$root/out")
      .select("database_name", "table_name", "payload_id", "payload_value")
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "post-crash materialized snapshot diverges from batch truth")
  }

  test("readMaterialized covers batches committed by an earlier run") {
    val root = Files.createTempDirectory("cdc-mat2").toString
    writeSegments(s"$root/replay", 2)
    CdcPipeline.start(spark, s"$root/replay", s"$root/out",
      s"$root/ck", s"$root/state").awaitTermination()
    // new segment arrives; the restarted run commits it: the state must
    // fold in the first run's batches, not just the new one
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts_us")
    ev.filter(pmod(col("event_id"), lit(7)) === 3).coalesce(1)
      .write.mode("append").parquet(s"$root/replay")
    CdcPipeline.start(spark, s"$root/replay", s"$root/out",
      s"$root/ck", s"$root/state").awaitTermination()
    assert(CdcPipeline.loadState(s"$root/state").get.lastBatchId == 2L)

    val allOut = spark.read.parquet(s"$root/out")
    val expected = allOut.groupBy("database_name", "table_name", "payload_id")
      .agg(expr("max_by(message_type, pos_key)").as("message_type"))
      .filter(col("message_type") =!= "delete")
    val got = CdcPipeline.readMaterialized(spark, s"$root/out")
      .select("database_name", "table_name", "payload_id", "message_type")
    assert(got.count() == expected.count(),
      s"state ${got.count()} != full-changelog state ${expected.count()}")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "state diverges from the full changelog's")
  }

  test("mid-stream ALTER changes the payload column set from its position onward (T22b)") {
    // reference schema_event_handler.py:154-175 + end_to_end_test
    // alter-mid-stream: rows BEFORE the ALTER publish under the old schema
    // version, rows AFTER under the new one — the data plane follows the
    // catalog, per binlog position, through the latest-state reader.
    val root = Files.createTempDirectory("cdc-evolve").toString
    val replayDir = s"$root/replay"
    // hand-ordered stream: data(t0) → ALTER t0 ADD → data(t0). user_id=5
    // maps to (db2, t0) whitelisted/non-blacklisted; k=2 on data rows
    // (3-row explode, non-refresh); k=1 on the error event classifies as
    // the ALTER..ADD DDL flavor (CdcSqlFragments.DDL_STMT, k%8=1).
    import spark.implicits._
    def writeOne(eventId: Long, eventType: String, value: Double, k: Int): Unit = {
      Seq((eventId, 5L, eventType, value, s"""{"k": $k}""", eventId * 1000L))
        .toDF("event_id", "user_id", "event_type", "value", "props", "ts_us")
        .coalesce(1).write.mode("append").parquet(replayDir)
      Thread.sleep(100) // distinct mtimes → the file source preserves order
    }
    writeOne(100L, "signup", 1.0, 2)
    writeOne(200L, "error", 0.0, 1)
    writeOne(300L, "signup", 2.0, 2)

    CdcPipeline.start(spark, replayDir, s"$root/out", s"$root/ck", s"$root/state")
      .awaitTermination()

    val snap = CdcPipeline.readMaterialized(spark, s"$root/out")
      .select("payload_id", "schema_version", "payload_json")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sortBy(_._1)
    assert(snap.map(_._1) == Seq(1000L, 1001L, 1002L, 3000L, 3001L, 3002L))
    val (before, after) = snap.partition(_._1 < 3000L)
    assert(before.forall(_._2 == 1L), s"pre-ALTER rows must stay version 1: $before")
    assert(before.forall(!_._3.contains("\"c2\"")),
      s"pre-ALTER payloads must NOT carry the added column: $before")
    assert(after.forall(_._2 == 2L), s"post-ALTER rows must be version 2: $after")
    // c2 = payload_k + 2 where payload_k = k + row_idx
    assert(after.map(_._3) == Seq(
      """{"id":3000,"k":2,"c2":4}""", """{"id":3001,"k":3,"c2":5}""",
      """{"id":3002,"k":4,"c2":6}"""),
      s"post-ALTER payloads must carry the added column: $after")
    // the evolved column set survives recovery: a restart restores the
    // catalog's alter positions from the state snapshot, so a NEW data
    // batch still versions against the pre-restart ALTER
    writeOne(400L, "signup", 3.0, 2)
    CdcPipeline.start(spark, replayDir, s"$root/out", s"$root/ck", s"$root/state")
      .awaitTermination()
    val v400 = CdcPipeline.readMaterialized(spark, s"$root/out")
      .filter(col("payload_id") === 4000L)
      .select("schema_version", "payload_json")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v400 == Seq((2L, """{"id":4000,"k":2,"c2":4}""")),
      s"post-restart batch must keep the evolved schema: $v400")
  }

  test("bulk-snapshot bootstrap then incremental: JDBC-shaped ingest feeds the changelog (T4b)") {
    import spark.implicits._
    import graft.cdc.JdbcSnapshot
    // snapshot of a source table (parquet stand-in for the partitioned
    // JDBC read), bulk-copied through the refresh shadow path — the
    // FullRefreshRunner analog
    val src = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
    val snapEnv = JdbcSnapshot.ingest(src, "db0", "t1", "id", "bal")
    assert(snapEnv.select("message_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("refresh"))
    assert(snapEnv.count() == 3, "a bulk copy emits each source row exactly once")

    // incremental traffic AFTER the snapshot (next binlog file): an
    // update of id 2 and a delete of id 3, through the SAME operator
    // chain the snapshot used
    val inc = Seq((2L, "update", 21.0), (3L, "delete", 0.0))
      .toDF("id", "mt", "bal")
      .select(
        col("id").as("event_id"),
        (lit(1700000001000000L) + col("id")).as("ts_us"),
        col("bal").as("value"),
        (col("id") * 3).cast("int").as("k"),
        lit("data").as("kind"),
        col("mt").as("message_type"),
        lit("db0").as("database_name"),
        lit("t1").as("base_table"),
        lit("t1").as("table_name"),
        lit(false).as("is_refresh"),
        lit("binlog.000002").as("log_file"),
        (col("id") * 4).as("log_pos"))
    val filtered = CdcOps.blacklistFilter(CdcOps.retarget(CdcOps.whitelist(inc)))
    val rows = CdcOps.explodeRows(filtered)
    val incEnv = CdcOps.envelope(CdcOps.typeTransforms(CdcOps.images(
      CdcOps.enrich(rows, CdcOps.registry(filtered)))))

    // bootstrap-then-follow: union + t13b materialize. The snapshot seeds
    // every row; incremental wins wherever its binlog position is later.
    val state = snapEnv.unionByName(incEnv)
      .groupBy("database_name", "table_name", "payload_id")
      .agg(expr("max_by(message_type, pos_key)").as("last_type"),
        expr("max_by(payload_value, pos_key)").as("v"))
      .filter(col("last_type") =!= "delete")
    val got = state.select(col("payload_id"), col("v")).as[(Long, Double)]
      .collect().toMap
    assert(got == Map(10L -> 10.0, 20L -> 21.0),
      s"id1 from the snapshot, id2 from the update, id3 deleted: $got")
  }

  // ---- Debezium wire feed builders (cluster `dbzcluster`, db `inventory`)
  private val cluster = "dbzcluster"

  /** `file` goes into the JSON as written: escape it there. */
  private def src(pos: Long, tbl: String, file: String = "binlog.000001") =
    s""""source":{"version":"2.6","connector":"mysql","name":"$cluster","ts_ms":1700000000000,"db":"inventory","table":"$tbl","server_id":1,"gtid":null,"file":"$file","pos":$pos,"row":0}"""

  private def dataEvent(tbl: String, pos: Long, op: String, after: String,
      before: String = "null", file: String = "binlog.000001") =
    (s"$cluster.inventory.$tbl",
      s"""{"payload":{"before":$before,"after":$after,${src(pos, tbl, file)},"op":"$op","ts_ms":1700000000000}}""")

  private def schemaEvent(pos: Long, ddl: String, typ: String,
      tbl: String = "customers") =
    (cluster,
      s"""{"payload":{${src(pos, tbl)},"ts_ms":1700000000000,"databaseName":"inventory","schemaName":null,"ddl":"$ddl","tableChanges":[{"type":"$typ","id":"\\"inventory\\".\\"$tbl\\""}]}}""")

  /** One wire segment file (one micro-batch at maxFilesPerTrigger=1). */
  private def writeWireSeg(wireDir: String, events: Seq[(String, String)]): Unit = {
    import spark.implicits._
    events.toDF("topic", "json")
      .select(col("topic"), lit(null).cast("binary").as("key"),
        col("json").cast("binary").as("value"),
        array().cast("array<struct<key:string,value:binary>>").as("headers"))
      .coalesce(1).write.mode("append").parquet(wireDir)
    Thread.sleep(100) // distinct mtimes → the file source preserves order
  }

  test("wire mode: interleaved Debezium data + schema-change events across a restart") {
    val root = Files.createTempDirectory("cdc-wire").toString
    val wireDir = s"$root/wire"; val outDir = s"$root/out"
    val ckDir = s"$root/ck"; val stDir = s"$root/state"
    def writeSeg(events: Seq[(String, String)]): Unit = writeWireSeg(wireDir, events)

    // segment 1: CREATE + two inserts, plus one row for a table the
    // schema-change topic never created (quarantine path)
    writeSeg(Seq(
      schemaEvent(100,
        "CREATE TABLE `customers` (id INT PRIMARY KEY, name VARCHAR(64))",
        "CREATE"),
      dataEvent("customers", 200, "c", """{"id":"1","name":"bob"}"""),
      dataEvent("customers", 300, "c", """{"id":"2","name":"amy"}"""),
      dataEvent("orders", 350, "c", """{"id":"9"}""")))
    CdcPipeline.startWire(spark, wireDir, cluster, outDir, ckDir, stDir)
      .awaitTermination()
    val b0 = spark.read.parquet(s"$outDir/batch=0")
    val cust0 = b0.filter(col("topic") === "inventory.customers")
      .orderBy("pos_key").select("schema_version", "payload_json")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(cust0 == Seq(
      (1L, """{"id":1,"name":"bob"}"""), (1L, """{"id":2,"name":"amy"}""")),
      s"wire rows must type under the schema-change topic's CREATE: $cust0")
    assert(b0.filter(col("topic") === "__unregistered").count() == 1,
      "rows for never-created tables are quarantined, not dropped")

    // segment 2 after a shutdown: a PRE-ALTER row, the ALTER, two
    // post-ALTER rows, a Debezium delete tombstone (null value), and a
    // corrupt record — all in ONE batch. The restarted consumer restores
    // the catalog from the state mirror, and each row types under the
    // schema active at its OWN binlog position (T22b): the pos-380 row
    // stays version 1 without email even though the batch also carries
    // the ALTER.
    writeSeg(Seq(
      dataEvent("customers", 380, "c", """{"id":"4","name":"dan"}"""),
      schemaEvent(400, "ALTER TABLE `customers` ADD email VARCHAR(128)",
        "ALTER"),
      dataEvent("customers", 500, "c",
        """{"id":"3","name":"joe","email":"joe@x.io"}"""),
      dataEvent("customers", 600, "u",
        """{"id":"1","name":"bob","email":"bob@x.io"}""",
        """{"id":"1","name":"bob","email":null}"""),
      (s"$cluster.inventory.customers", null), // delete tombstone: dropped
      (s"$cluster.inventory.customers", "{corrupt"))) // quarantined
    CdcPipeline.startWire(spark, wireDir, cluster, outDir, ckDir, stDir)
      .awaitTermination()
    val b1all = spark.read.parquet(s"$outDir/batch=1")
    val b1 = b1all.filter(col("topic") === "inventory.customers")
      .orderBy("pos_key")
      .select("schema_version", "message_type", "payload_json")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(b1 == Seq(
      (1L, "create", """{"id":4,"name":"dan"}"""),
      (2L, "create", """{"id":3,"name":"joe","email":"joe@x.io"}"""),
      (2L, "update", """{"id":1,"name":"bob","email":"bob@x.io"}""")),
      s"rows must type under the schema at their own position: $b1")
    assert(b1all.filter(col("topic") === "__unparsed").count() == 1,
      "corrupt wire records are quarantined; tombstones are dropped")
    // batch 0 output untouched by the restart (idempotent sink + dedupe)
    assert(spark.read.parquet(s"$outDir/batch=0")
      .filter(col("topic") === "inventory.customers").count() == 2)
    // state mirror advanced to the wire's max binlog coordinate
    val st = CdcPipeline.loadState(stDir).get
    assert(st.lastBatchId == 1L && st.position("log_pos") == "600")

    // segment 3: a DDL-only batch — the sink contract still writes the
    // (empty) batch=<id> directory, and the position still advances off
    // the schema-change coordinates
    writeSeg(Seq(schemaEvent(700,
      "CREATE TABLE `orders` (id INT PRIMARY KEY)", "CREATE", "orders")))
    CdcPipeline.startWire(spark, wireDir, cluster, outDir, ckDir, stDir)
      .awaitTermination()
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/batch=2")),
      "a DDL-only batch must still write its batch directory")
    val st2 = CdcPipeline.loadState(stDir).get
    assert(st2.lastBatchId == 2L && st2.position("log_pos") == "700")
  }

  /** Two wire segments: a CREATE with two inserts, then a pre-ALTER row,
    * the ALTER and two post-ALTER rows. */
  private def writeWireFeed(wireDir: String): Unit = {
    writeWireSeg(wireDir, Seq(
      schemaEvent(100,
        "CREATE TABLE `customers` (id INT PRIMARY KEY, name VARCHAR(64))", "CREATE"),
      dataEvent("customers", 200, "c", """{"id":"1","name":"bob"}"""),
      dataEvent("customers", 300, "c", """{"id":"2","name":"amy"}""")))
    writeWireSeg(wireDir, Seq(
      dataEvent("customers", 380, "c", """{"id":"4","name":"dan"}"""),
      schemaEvent(400, "ALTER TABLE `customers` ADD email VARCHAR(128)", "ALTER"),
      dataEvent("customers", 500, "c", """{"id":"3","name":"joe","email":"joe@x.io"}"""),
      dataEvent("customers", 600, "u", """{"id":"1","name":"bob","email":"bob@x.io"}""",
        """{"id":"1","name":"bob","email":null}""")))
  }

  private def startWireAt(root: String): StreamingQuery =
    CdcPipeline.startWire(spark, s"$root/wire", cluster, s"$root/out", s"$root/ck", s"$root/st")

  private def startReplayAt(root: String): StreamingQuery =
    CdcPipeline.start(spark, s"$root/replay", s"$root/out", s"$root/ck", s"$root/st")

  /** Run `start` over `root` with batch 1 dying right after its DDL
    * barrier; batch 0 stays committed. */
  private def crashAtBatch1(root: String, start: String => StreamingQuery): Unit = {
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    CdcPipeline.afterDdlHook = { batchId =>
      if (batchId == 1 && crashed.compareAndSet(false, true))
        throw new RuntimeException("injected mid-DDL crash")
    }
    try intercept[Exception] { start(root).awaitTermination() }
    finally CdcPipeline.afterDdlHook = _ => ()
    assert(crashed.get, "the injected crash must have fired")
    assert(CdcPipeline.loadState(s"$root/st").get.lastBatchId == 0L)
  }

  private def assertSameOutput(root: String, cleanRoot: String): Unit = {
    val got = spark.read.parquet(s"$root/out")
    val want = spark.read.parquet(s"$cleanRoot/out")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "output must equal the uninterrupted run's, batch by batch")
  }

  private def stagingDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".staging")).toSeq

  test("wire mode: mid-DDL crash replays to the uninterrupted run's rows, schema ids and versions") {
    val cleanRoot = Files.createTempDirectory("cdc-wire-crash-clean").toString
    writeWireFeed(s"$cleanRoot/wire")
    startWireAt(cleanRoot).awaitTermination()
    val root = Files.createTempDirectory("cdc-wire-crash").toString
    writeWireFeed(s"$root/wire")

    // batch 1 dies after its ALTER reached the in-memory catalog, before
    // the publish and the state save; the restart restores batch 0's
    // catalog and applies the ALTER again
    crashAtBatch1(root, startWireAt)
    startWireAt(root).awaitTermination()

    assertSameOutput(root, cleanRoot)
    val versions = spark.read.parquet(s"$root/out/batch=1")
      .filter(col("topic") === "inventory.customers").orderBy("pos_key")
      .select("schema_version").collect().map(_.getLong(0)).toSeq
    assert(versions == Seq(1L, 2L, 2L), s"replayed batch must re-type by position: $versions")
    assert(CdcPipeline.loadState(s"$root/st").get.catalogJson ==
      CdcPipeline.loadState(s"$cleanRoot/st").get.catalogJson,
      "the replayed ALTER must mint the same schema ids and versions")
  }

  test("publish: a crashed attempt's staging and partial batch dirs are replaced, for both sources") {
    def check(name: String, feed: String => Unit, start: String => StreamingQuery): Unit = {
      val cleanRoot = Files.createTempDirectory(s"cdc-publish-$name-clean").toString
      feed(cleanRoot)
      start(cleanRoot).awaitTermination()
      assert(stagingDirs(s"$cleanRoot/out").isEmpty, s"$name: a clean run leaves no staging dir")

      val root = Files.createTempDirectory(s"cdc-publish-$name").toString
      feed(root)
      crashAtBatch1(root, start)
      // what a crash mid-publish leaves: part of batch 1 already appended
      // to its staging dir, and a partial batch=1 from an earlier attempt
      val batch1 = spark.read.parquet(s"$cleanRoot/out/batch=1")
      assert(batch1.count() > 2, s"$name: batch 1 must carry rows")
      batch1.limit(1).write.parquet(s"$root/out/.batch_1.staging")
      batch1.limit(2).write.parquet(s"$root/out/batch=1")

      start(root).awaitTermination()
      assertSameOutput(root, cleanRoot)
      assert(stagingDirs(s"$root/out").isEmpty, s"$name: the publish must consume its staging dir")
    }
    check("replay", root => writeSegments(s"$root/replay", 3), startReplayAt)
    check("wire", root => writeWireFeed(s"$root/wire"), startWireAt)
  }

  test("latest-state readers ignore a staging dir, for both sources") {
    // a staging dir holding a later delete of every live row: published,
    // it would empty the state; staged, neither reader may see it
    def check(name: String, out: String, read: () => org.apache.spark.sql.DataFrame): Unit = {
      val before = read()
      val live = before.collect().toSeq
      assert(live.nonEmpty, s"$name: the committed state must hold live rows")
      val lastBatch = new java.io.File(out).listFiles().map(_.getName)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).max
      val next = lastBatch + 1
      spark.read.parquet(s"$out/batch=$lastBatch")
        .withColumn("pos_key", concat(col("pos_key"), lit("~")))
        .withColumn("message_type", lit("delete"))
        .write.parquet(s"$out/.batch_$next.staging")
      assert(read().collect().toSeq.sortBy(_.toString) == live.sortBy(_.toString),
        s"$name: a reader saw the staging dir")
      // the planted rows are not vacuous: published, they change the state
      Files.move(java.nio.file.Paths.get(s"$out/.batch_$next.staging"),
        java.nio.file.Paths.get(s"$out/batch=$next"))
      assert(read().count() < live.size, s"$name: the planted deletes must change the state")
    }
    val replayRoot = Files.createTempDirectory("cdc-read-staging-replay").toString
    writeOneEvent(replayRoot)
    startReplayAt(replayRoot).awaitTermination()
    check("replay", s"$replayRoot/out",
      () => CdcPipeline.readMaterialized(spark, s"$replayRoot/out"))
    val wireRoot = Files.createTempDirectory("cdc-read-staging-wire").toString
    writeWireFeed(s"$wireRoot/wire")
    startWireAt(wireRoot).awaitTermination()
    check("wire", s"$wireRoot/out",
      () => CdcCuration.materializeWire(spark, s"$wireRoot/out", "inventory.customers", "id"))
  }

  test("wire mode: mid-batch CREATE, RENAME TABLE and DROP TABLE type each row at its position") {
    val root = Files.createTempDirectory("cdc-wire-ddl").toString
    // one batch: rows before and after each statement
    writeWireSeg(s"$root/wire", Seq(
      dataEvent("items", 100, "c", """{"id":"1","name":"pre"}"""),
      schemaEvent(200, "CREATE TABLE `items` (id INT PRIMARY KEY, name VARCHAR(64))",
        "CREATE", "items"),
      dataEvent("items", 300, "c", """{"id":"2","name":"a"}"""),
      schemaEvent(400, "RENAME TABLE `items` TO `goods`", "ALTER", "items"),
      dataEvent("goods", 500, "c", """{"id":"3","name":"b"}"""),
      dataEvent("items", 550, "u", """{"id":"2","name":"c"}"""),
      schemaEvent(600, "DROP TABLE `items`", "DROP", "items"),
      dataEvent("items", 700, "c", """{"id":"5","name":"d"}""")))
    startWireAt(root).awaitTermination()

    val rows = spark.read.parquet(s"$root/out/batch=0").orderBy("pos_key")
      .select("log_pos", "topic", "schema_version", "payload_json")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
    // pos 100: before the CREATE → unregistered, raw image
    // pos 300: after the CREATE → items v1, typed to (id INT, name)
    // pos 500: after the RENAME the table is `goods`, with `items`'
    //   columns and no ALTER since its CREATE → goods v1, typed
    // pos 550: `items` no longer exists → unregistered, raw image
    // pos 700: after the DROP → unregistered
    assert(rows == Seq(
      (100L, "__unregistered", 0L, """{"id":"1","name":"pre"}"""),
      (300L, "inventory.items", 1L, """{"id":2,"name":"a"}"""),
      (500L, "inventory.goods", 1L, """{"id":3,"name":"b"}"""),
      (550L, "__unregistered", 0L, """{"id":"2","name":"c"}"""),
      (700L, "__unregistered", 0L, """{"id":"5","name":"d"}""")),
      s"rows must type under the catalog at their own position: $rows")
    val st = CdcPipeline.loadState(s"$root/st").get
    assert(st.lastBatchId == 0L && st.position("log_pos") == "700")
  }

  test("wire mode: every catalog type renders byte-identical to to_json over the cast struct") {
    val root = Files.createTempDirectory("cdc-wire-types").toString
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    // one column per Spark type mysqlType yields, and a name JSON escapes
    val ddl = "CREATE TABLE `alltypes` (id INT PRIMARY KEY, b TINYINT(1), " +
      "big BIGINT, ubig BIGINT UNSIGNED, dec DECIMAL(9,2), f FLOAT, d DOUBLE, " +
      "dt DATE, dtm DATETIME, ts TIMESTAMP, tm TIME, s VARCHAR(32), bl BLOB, " +
      "`we\"ird\\col` VARCHAR(8))"
    val full = """{"id":"1","b":"1","big":"9007199254740993","ubig":"18446744073709551615",""" +
      """"dec":"-1234567.8","f":"1.5","d":"1.0E20","dt":"2024-02-29",""" +
      """"dtm":"2024-02-29 12:34:56","ts":"2024-02-29T12:34:56.789Z",""" +
      """"tm":"45296000000","s":"q\"u\\o\ttab","bl":"AQID","we\"ird\\col":"x"}"""
    // `dec` absent (a null field), `d` a JSON null (a value that casts to null)
    val sparse = """{"id":"2","b":"0","big":"-7","ubig":"0","f":"-0.25","d":null,""" +
      """"dt":"1970-01-01","ts":"1970-01-01T00:00:00Z","tm":"0","s":""}"""
    writeWireSeg(s"$root/wire", Seq(
      schemaEvent(100, esc(ddl), "CREATE", "alltypes"),
      dataEvent("alltypes", 200, "c", full),
      dataEvent("alltypes", 300, "c", sparse),
      dataEvent("alltypes", 400, "d", "null", before = sparse)))
    startWireAt(root).awaitTermination()
    val rows = spark.read.parquet(s"$root/out/batch=0").orderBy("pos_key")
      .select("topic", "schema_id", "schema_version", "payload_json")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3))).toSeq
    // what `to_json(struct(image[c].cast(type) AS c, ...))` renders for
    // these images
    val fullJson = """{"id":1,"b":true,"big":9007199254740993,"ubig":18446744073709551615,""" +
      """"dec":-1234567.80,"f":1.5,"d":1.0E20,"dt":"2024-02-29","dtm":"2024-02-29 12:34:56",""" +
      """"ts":"2024-02-29T12:34:56.789Z","tm":45296000000,"s":"q\"u\\o\ttab","bl":"QVFJRA==",""" +
      """"we\"ird\\col":"x"}"""
    val sparseJson = """{"id":2,"b":false,"big":-7,"ubig":0,"f":-0.25,"dt":"1970-01-01",""" +
      """"ts":"1970-01-01T00:00:00.000Z","tm":0,"s":""}"""
    assert(rows == Seq(
      ("inventory.alltypes", 1, 1L, fullJson),
      ("inventory.alltypes", 1, 1L, sparseJson),
      ("inventory.alltypes", 1, 1L, sparseJson)), rows.mkString("\n"))
  }

  test("wire mode: a SET column renders its members as a JSON array, across a restart") {
    val root = Files.createTempDirectory("cdc-wire-set").toString
    writeWireSeg(s"$root/wire", Seq(
      schemaEvent(100, "CREATE TABLE `tagged` (id INT PRIMARY KEY, tags SET('a','b','c'))",
        "CREATE", "tagged"),
      dataEvent("tagged", 200, "c", """{"id":"1","tags":"a,c"}""")))
    startWireAt(root).awaitTermination()
    writeWireSeg(s"$root/wire", Seq(
      dataEvent("tagged", 300, "c", """{"id":"2","tags":""}"""),
      dataEvent("tagged", 400, "u", """{"id":"1","tags":"b"}""", """{"id":"1","tags":"a,c"}""")))
    startWireAt(root).awaitTermination()
    val rows = spark.read.parquet(s"$root/out").filter(col("topic") === "inventory.tagged")
      .orderBy("pos_key").select("payload_json").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("""{"id":1,"tags":["a","c"]}""", """{"id":2,"tags":[]}""",
      """{"id":1,"tags":["b"]}"""), rows)
    assert(CdcPipeline.loadState(s"$root/st").get.lastBatchId == 1L)
  }

  test("wire mode: malformed and truncated frames on both topic kinds land in __unparsed") {
    val root = Files.createTempDirectory("cdc-wire-fuzz").toString
    val rnd = new scala.util.Random(11)
    val templates = Seq(
      schemaEvent(300, "ALTER TABLE `customers` ADD email VARCHAR(128)", "ALTER"),
      dataEvent("customers", 400, "c", """{"id":"5","name":"eve"}"""))
    // every strict prefix of a JSON object is malformed; so is the junk
    def bad(n: Int): Seq[(String, String)] = Seq.fill(n) {
      val (topic, json) = templates(rnd.nextInt(templates.size))
      topic -> (rnd.nextInt(4) match {
        case 0 => rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString
        case 1 => """{"payload":]"""
        case _ => json.take(rnd.nextInt(json.length))
      })
    }
    val first = bad(20)
    val second = bad(20)
    assert(first.map(_._1).toSet.size == 2 && second.map(_._1).toSet.size == 2,
      "both topic kinds must carry bad frames")
    writeWireSeg(s"$root/wire", Seq(
      schemaEvent(100, "CREATE TABLE `customers` (id INT PRIMARY KEY, name VARCHAR(64))", "CREATE"),
      dataEvent("customers", 200, "c", """{"id":"1","name":"bob"}""")) ++ first)
    writeWireSeg(s"$root/wire", second)
    startWireAt(root).awaitTermination()

    val out = spark.read.parquet(s"$root/out")
    def topics(batch: Int) = spark.read.parquet(s"$root/out/batch=$batch")
      .groupBy("topic").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(topics(0) == Map("inventory.customers" -> 1L, "__unparsed" -> 20L), topics(0))
    assert(topics(1) == Map("__unparsed" -> 20L), topics(1))
    assert(out.filter(col("topic") === "inventory.customers")
      .select("payload_json").head().getString(0) == """{"id":1,"name":"bob"}""")
    val st = CdcPipeline.loadState(s"$root/st").get
    assert(st.lastBatchId == 1L && st.position("log_pos") == "200")
  }

  test("a restart compiles no generated code for a segment of the shape it ran before, for both sources") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // every restart after the first run drains one more segment; the
    // first run compiled the code all of them need
    def check(name: String, segments: Int, segment: (String, Int) => Unit,
        start: String => StreamingQuery): Unit = {
      val root = Files.createTempDirectory(s"cdc-codegen-$name").toString
      segment(root, 0)
      start(root).awaitTermination()
      (1 until segments).foreach { i =>
        segment(root, i)
        val before = compiled
        start(root).awaitTermination()
        assert(compiled == before,
          s"$name: the restart over segment $i compiled ${compiled - before} classes again")
      }

      val cleanRoot = Files.createTempDirectory(s"cdc-codegen-$name-clean").toString
      (0 until segments).foreach(segment(cleanRoot, _))
      start(cleanRoot).awaitTermination()
      assertSameOutput(root, cleanRoot)
      assert(CdcPipeline.loadState(s"$root/st").get.lastBatchId == segments - 1L)
    }
    // replay: the sf0.001 events without their DDL, split in two by parity
    val events = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts_us")
    val noDdl = events.join(graft.cdc.CdcReplay.fromEvents(events)
      .filter(col("kind") =!= "ddl").select("event_id"), Seq("event_id"), "left_semi")
    check("replay", 2, (root, i) => {
      noDdl.filter(pmod(col("event_id"), lit(2)) === i)
        .coalesce(1).write.mode("append").parquet(s"$root/replay")
      Thread.sleep(100)
    }, startReplayAt)
    // wire: the first segment creates the table, the first two carry its
    // inserts; the third CREATEs two unseen tables (one with a column type
    // no earlier batch typed) and ALTERs the first between two of its rows
    def rows(i: Int) = Seq(
      dataEvent("customers", 200 + 100 * i, "c", s"""{"id":"${2 * i}","name":"bob"}"""),
      dataEvent("customers", 250 + 100 * i, "c", s"""{"id":"${2 * i + 1}","name":"amy"}"""))
    check("wire", 3, (root, i) => writeWireSeg(s"$root/wire", i match {
      case 0 => schemaEvent(100,
        "CREATE TABLE `customers` (id INT PRIMARY KEY, name VARCHAR(64))", "CREATE") +: rows(0)
      case 1 => rows(1)
      case _ => Seq(
        dataEvent("customers", 500, "c", """{"id":"8","name":"cy"}"""),
        schemaEvent(510, "CREATE TABLE `orders` (id INT PRIMARY KEY, total DOUBLE)",
          "CREATE", "orders"),
        schemaEvent(520, "CREATE TABLE `items` (id INT PRIMARY KEY, sku VARCHAR(16))",
          "CREATE", "items"),
        schemaEvent(530, "ALTER TABLE `customers` ADD email VARCHAR(128)", "ALTER"),
        dataEvent("customers", 540, "c", """{"id":"9","name":"di","email":"d@x.io"}"""),
        dataEvent("orders", 550, "c", """{"id":"1","total":"2.5"}"""),
        dataEvent("items", 560, "c", """{"id":"1","sku":"ab-1"}"""))
    }), startWireAt)
  }

  test("state.json keeps a wire position whose file name holds a quote and a backslash") {
    val root = Files.createTempDirectory("cdc-wire-escape").toString
    // Debezium's source.file is bin"log\x.000001 (JSON-escaped below)
    writeWireSeg(s"$root/wire", Seq(dataEvent("customers", 200, "c",
      """{"id":"1","name":"bob"}""", file = """bin\"log\\x.000001""")))
    startWireAt(root).awaitTermination()
    val st = CdcPipeline.loadState(s"$root/st").get
    assert(st.lastBatchId == 0L && st.position("log_pos") == "200")
    assert(st.position("log_file") == "bin\"log\\x.000001", st.position)
    eventually() { assert(CdcPipeline.loadState(s"$root/st").get.cleanShutdown) }
    assert(CdcPipeline.loadState(s"$root/st").get.position == st.position)
  }

  // ---- T35 instance lock

  private def lockOf(root: String) = java.nio.file.Paths.get(s"$root/st", "lock")

  /** One replay segment of a single data event. */
  private def writeOneEvent(root: String): Unit = {
    import spark.implicits._
    Seq((100L, 5L, "signup", 1.0, """{"k": 2}""", 100000L))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_us")
      .coalesce(1).write.mode("append").parquet(s"$root/replay")
  }

  test("instance lock: a second start fails while the first run is mid-batch, and succeeds after it (T35)") {
    val root = Files.createTempDirectory("cdc-lock").toString
    writeSegments(s"$root/replay", 2)
    val inBatch = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    CdcPipeline.afterDdlHook = { _ => inBatch.countDown(); proceed.await() }
    try {
      val q1 = startReplayAt(root)
      assert(inBatch.await(2, java.util.concurrent.TimeUnit.MINUTES), "the first run must reach its batch")
      val e = intercept[IllegalStateException](startReplayAt(root))
      assert(e.getMessage.contains("holds the lock"), e.getMessage)
      proceed.countDown()
      q1.awaitTermination()
    } finally {
      proceed.countDown()
      CdcPipeline.afterDdlHook = _ => ()
    }
    eventually() { assert(!Files.exists(lockOf(root))) }
    startReplayAt(root).awaitTermination()
    assert(CdcPipeline.loadState(s"$root/st").get.lastBatchId == 1L)
  }

  test("instance lock: a restart right after awaitTermination waits for the stopped run's release (T35)") {
    import spark.implicits._
    val root = Files.createTempDirectory("cdc-lock-release").toString
    writeOneEvent(root)
    // registered before the pipeline's own listener, this one holds up the
    // asynchronous streaming listener bus, so the first run's termination
    // listener (clean flag, lock release) runs only once `release` opens
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val blocker = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        terminated.countDown()
        release.await(2, java.util.concurrent.TimeUnit.MINUTES)
      }
    }
    spark.streams.addListener(blocker)
    @volatile var restored: Option[CdcPipeline.State] = None
    try {
      startReplayAt(root).awaitTermination()
      assert(terminated.await(1, java.util.concurrent.TimeUnit.MINUTES))
      assert(Files.exists(lockOf(root)), "the stopped run must still hold the lock here")
      // the second run has a batch of its own; its state.json at that
      // batch is the one it restored (nothing else writes it under the lock)
      Seq((101L, 6L, "signup", 2.0, """{"k": 3}""", 200000L))
        .toDF("event_id", "user_id", "event_type", "value", "props", "ts_us")
        .coalesce(1).write.mode("append").parquet(s"$root/replay")
      CdcPipeline.afterDdlHook = _ => restored = CdcPipeline.loadState(s"$root/st")
      val second = scala.concurrent.Future(startReplayAt(root))(
        scala.concurrent.ExecutionContext.global)
      Thread.sleep(2000) // the second start reaches the held lock first
      release.countDown()
      scala.concurrent.Await.result(second, scala.concurrent.duration.Duration(2, "min"))
        .awaitTermination()
    } finally {
      release.countDown()
      spark.streams.removeListener(blocker)
      CdcPipeline.afterDdlHook = _ => ()
    }
    assert(restored.exists(s => s.cleanShutdown && s.lastBatchId == 0L),
      s"the second run must restore the first run's clean final state, got $restored")
    assert(CdcPipeline.loadState(s"$root/st").get.lastBatchId == 1L)
  }

  /** A run over `root` takes over a lock file holding `holder`. */
  private def assertTakenOver(holder: String): Unit = {
    val root = Files.createTempDirectory("cdc-lock-stale").toString
    writeOneEvent(root)
    Files.createDirectories(lockOf(root).getParent)
    Files.writeString(lockOf(root), holder)
    startReplayAt(root).awaitTermination()
    assert(CdcPipeline.loadState(s"$root/st").get.lastBatchId == 0L)
    eventually() { assert(!Files.exists(lockOf(root))) }
  }

  test("instance lock: a lock naming a dead process is taken over (T35)") {
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    assertTakenOver(s"${child.pid()}:${java.util.UUID.randomUUID()}")
  }

  test("instance lock: a lock naming this JVM with a token no run holds is taken over (T35)") {
    // what a crashed JVM leaves when its pid is recycled by this one
    assertTakenOver(s"${ProcessHandle.current().pid()}:${java.util.UUID.randomUUID()}")
  }

  test("instance lock: a start whose query fails to start releases the lock (T35)") {
    val root = Files.createTempDirectory("cdc-lock-failed-start").toString
    writeOneEvent(root)
    // a checkpoint location that is a regular file: the query cannot start
    val ckFile = Files.createFile(java.nio.file.Paths.get(root, "ck-file")).toString
    intercept[Exception](CdcPipeline.start(spark, s"$root/replay", s"$root/out", ckFile, s"$root/st"))
    assert(!Files.exists(lockOf(root)), "a failed start must not keep the lock")
    startReplayAt(root).awaitTermination()
    assert(CdcPipeline.loadState(s"$root/st").get.lastBatchId == 0L)
  }
}
