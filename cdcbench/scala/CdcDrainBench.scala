package cdcbench

import graft.Tables
import graft.catalog.SchemaCatalog
import graft.cdc.{CdcOps, CdcSqlFragments, DebeziumAdapter}
import graft.streaming.CdcPipeline
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Drives the unmodified public entry points `CdcPipeline.start` (replay
  * workloads) and `CdcPipeline.startWire` (wire workload) over the segments
  * run.py staged under `--work`, in three phases:
  *
  *  1. warm-up: an untimed drain of the `warm` segments in directories of
  *     its own, so the timed phase runs JIT-compiled code;
  *  2. the timed drain: all `backlog` segments are placed in the source
  *     directory, then one start call drains them (AvailableNow);
  *  3. restart cycles: each moves the next `pool` segment into the source
  *     directory of the stopped pipeline and starts it again; every run
  *     makes one cycle per pool segment, so every run does the same work.
  *
  * It writes `result.json` with the end-to-end figures and, with `--trace
  * 1`, the per-layer figures. Every per-layer figure is taken from outside
  * the program: Spark's listener interfaces, the JVM's MX beans, or timed
  * calls into public functions of a layer. Correctness is checked by
  * run.py against the outputs left under `--work`.
  */
object CdcDrainBench {

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Times `f` `reps` times after one untimed call; returns the median in ns. */
  private def timed(reps: Int)(f: => Unit): Double = {
    f
    median((1 to reps).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t).toDouble })
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work"))
    val trace = opt("trace") == "1"
    implicit val fmt: Formats = DefaultFormats
    val plan = JsonMethods.parse(Files.readString(work.resolve("plan.json")))
    val kind = (plan \ "kind").extract[String]
    val cluster = (plan \ "cluster").extract[String]
    /** (file, DDL statements) of each segment of a group, in order; replay
      * segments carry no DDL count (it only splits the wire job counts). */
    def segments(group: String): Seq[(String, Int)] =
      (plan \ "segments" \ group).extract[List[JValue]].map(s =>
        ((s \ "file").extract[String], (s \ "ddl").extractOrElse[Int](0)))

    val tMain = System.nanoTime()
    val spark = Tables.session("cdcbench", opt("cpus"))
    // every batch of a run stays in recentProgress
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val sessionS = secs(tMain)
    val tracer = new BatchTracer
    if (trace) spark.sparkContext.addSparkListener(tracer)

    def dir(tag: String, leaf: String): String = work.resolve(tag).resolve(leaf).toString
    def launch(tag: String): StreamingQuery = kind match {
      case "replay" => CdcPipeline.start(spark, dir(tag, "src"), dir(tag, "out"),
        dir(tag, "ck"), dir(tag, "state"))
      case "wire" => CdcPipeline.startWire(spark, dir(tag, "src"), cluster,
        dir(tag, "out"), dir(tag, "ck"), dir(tag, "state"))
    }
    def stage(group: String, tag: String, files: Seq[String]): Unit = {
      Files.createDirectories(Paths.get(dir(tag, "src")))
      files.foreach(f => Files.move(work.resolve(group).resolve(f),
        Paths.get(dir(tag, "src"), f), StandardCopyOption.ATOMIC_MOVE))
    }
    // a listener marks the clean shutdown and releases the instance lock
    // after awaitTermination returns: wait for it, so the kept state is
    // final and a restart finds the lock free
    def awaitUnlocked(tag: String): Unit = {
      val lock = Paths.get(dir(tag, "state"), "lock")
      val deadline = System.nanoTime() + 30e9.toLong
      while (Files.exists(lock)) {
        require(System.nanoTime() < deadline, s"lock $lock not released")
        Thread.sleep(5)
      }
    }
    def batches(q: StreamingQuery): Seq[StreamingQueryProgress] =
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val states = work.resolve("states")
    Files.createDirectories(states)
    def keepState(i: Int): Unit = Files.copy(Paths.get(dir("main", "state"), "state.json"),
      states.resolve(f"state-$i%03d.json"))

    // ---- 1. warm-up
    val tWarm = System.nanoTime()
    stage("warm", "warm", segments("warm").map(_._1))
    val wq = launch("warm")
    wq.awaitTermination()
    awaitUnlocked("warm")
    val warmupS = secs(tWarm)

    // ---- 2. timed drain
    val backlog = segments("backlog")
    stage("backlog", "main", backlog.map(_._1))
    val drainStartMs = System.currentTimeMillis()
    val tDrain = System.nanoTime()
    val q = launch("main")
    q.awaitTermination()
    val drainS = secs(tDrain)
    val drain = batches(q)
    awaitUnlocked("main")
    keepState(0)

    // ---- 3. restart cycles
    val pool = segments("pool")
    val catchups = mutable.ArrayBuffer.empty[Double]
    val queryStarts = mutable.ArrayBuffer.empty[Double]
    val cycleBatches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    for ((file, _) <- pool) {
      stage("pool", "main", Seq(file))
      val callMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val rq = launch("main")
      rq.awaitTermination()
      catchups += secs(t)
      val bs = batches(rq)
      cycleBatches ++= bs
      queryStarts += (java.time.Instant.parse(bs.head.timestamp).toEpochMilli - callMs).toDouble
      awaitUnlocked("main")
      keepState(catchups.size)
    }
    val measuredS = secs(tDrain)
    System.err.println(f"[cdcbench] session $sessionS%.2f s, warm-up $warmupS%.2f s, " +
      f"drain $drainS%.2f s, batches (ms) " +
      drain.map(_.durationMs.get("triggerExecution")).mkString(" ") +
      ", restart cycles (s) " + catchups.map(c => f"$c%.2f").mkString(" "))

    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val vmHwmKb = status.find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

    val drainRecords = drain.map(_.numInputRows).sum
    val e2e = Seq(
      "setup_s" -> (drainStartMs - opt("t0-ms").toLong) / 1e3,
      "drain_eps" -> drainRecords / drainS,
      "batch_p50_ms" -> median(drain.map(_.durationMs.get("triggerExecution").toDouble)),
      "restart_catchup_s" -> median(catchups.toSeq),
      "peak_rss_mb" -> vmHwmKb / 1024)

    val layers: Seq[(String, Double)] = if (!trace) Nil else {
      org.apache.spark.CdcBenchListeners.drain(spark.sparkContext)
      val qid = q.id.toString
      def dur(p: StreamingQueryProgress, k: String) = p.durationMs.get(k).toDouble
      def perBatch(ps: Seq[StreamingQueryProgress])(f: BatchTracer.Acc => Double): Double =
        median(ps.map(p => f(tracer.batch(qid, p.batchId))))
      // batch id → DDL statements of the segment it read: one segment per
      // batch, in the order they were placed
      val ddlOf = (backlog ++ pool).map(_._2).zipWithIndex.map(_.swap).toMap
      val all = drain ++ cycleBatches
      def wireJobs(ddl: Boolean): Double =
        if (kind != "wire") 0.0
        else perBatch(all.filter(p => (ddlOf(p.batchId.toInt) > 0) == ddl))(_.jobs.toDouble)
      val cpuNs = drain.map(p => tracer.batch(qid, p.batchId).cpuNs.toDouble).sum

      val stateDir = dir("main", "state")
      val loadStateNs = timed(20)(CdcPipeline.loadState(stateDir))
      val catalogJson = CdcPipeline.loadState(stateDir).get.catalogJson
      val restoreNs = timed(20)(new SchemaCatalog().restore(catalogJson))
      val restored = new SchemaCatalog()
      restored.restore(catalogJson)
      val snapshotNs = timed(20)(restored.snapshotJson)

      val ddl = (plan \ "catalog_ddl").extract[List[JArray]].map(_.arr) map {
        case List(cl, db, sql, at) =>
          (cl.extract[String], db.extract[String], sql.extract[String], at.extract[Long])
      }
      def replayDdl(): Seq[Double] = {
        val cat = new SchemaCatalog(piiTables = CdcSqlFragments.PII_TABLES.toSet)
        ddl.map { case (cl, db, sql, at) =>
          val t = System.nanoTime()
          cat.applyDdl(cl, db, sql, atEventId = at)
          (System.nanoTime() - t) / 1e3
        }
      }
      replayDdl()
      val applyUs = median((1 to 3).flatMap(_ => replayDdl()))

      val eventsDir = if (kind == "replay") dir("main", "src") else work.resolve("probe_events").toString
      val events = spark.read.schema(CdcPipeline.replaySchema).parquet(eventsDir)
      val nEvents = events.count()
      val chainNs = timed(3)(CdcOps.pipeline(events).write.format("noop").mode("overwrite").save())
      val framesDir = if (kind == "wire") dir("main", "src") else work.resolve("probe_wire").toString
      val frames = spark.read.schema(CdcPipeline.wireSchema).parquet(framesDir)
        .filter(col("topic") =!= cluster && col("value").isNotNull)
      val nFrames = frames.count()
      val parseNs = timed(3)(DebeziumAdapter.fromDebezium(frames)
        .write.format("noop").mode("overwrite").save())

      Seq(
        "setup.session_s" -> sessionS,
        "setup.warmup_s" -> warmupS,
        "engine.latest_offset_ms_p50" -> median(drain.map(dur(_, "latestOffset"))),
        "engine.planning_ms_p50" -> median(drain.map(dur(_, "queryPlanning"))),
        "engine.wal_commit_ms_p50" -> median(drain.map(dur(_, "walCommit"))),
        "engine.commit_ms_p50" -> median(drain.map(dur(_, "commitOffsets"))),
        "engine.query_start_ms" -> median(queryStarts.toSeq),
        "streaming.add_batch_ms_p50" -> median(drain.map(dur(_, "addBatch"))),
        "streaming.jobs_per_batch" -> perBatch(drain)(_.jobs.toDouble),
        "streaming.stages_per_batch" -> perBatch(drain)(_.stages.toDouble),
        "streaming.tasks_per_batch" -> perBatch(drain)(_.tasks.toDouble),
        "streaming.shuffle_write_bytes_per_batch" -> perBatch(drain)(_.shuffleBytes.toDouble),
        "streaming.state_json_bytes" ->
          Files.size(Paths.get(stateDir, "state.json")).toDouble,
        "streaming.load_state_ms" -> loadStateNs / 1e6,
        "wire.jobs_per_ddl_batch" -> wireJobs(ddl = true),
        "wire.jobs_per_plain_batch" -> wireJobs(ddl = false),
        "wire.parse_eps" -> nFrames / (parseNs / 1e9),
        "cdc.chain_eps" -> nEvents / (chainNs / 1e9),
        "cdc.cpu_ms_per_kevent" -> cpuNs / 1e6 / (drainRecords / 1e3),
        "catalog.apply_ddl_us_p50" -> applyUs,
        "catalog.snapshot_ms" -> snapshotNs / 1e6,
        "catalog.snapshot_bytes" -> restored.snapshotJson.getBytes("UTF-8").length.toDouble,
        "catalog.restore_ms" -> restoreNs / 1e6,
        "jvm.gc_ms" -> gcMs,
        "jvm.heap_used_peak_mb" -> heapPeakMb)
    }

    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    def arr(xs: Seq[Long]) = xs.mkString("[", ",", "]")
    Files.writeString(work.resolve("result.json"),
      s"""{"e2e":${obj(e2e)},"layers":${obj(layers)},""" +
        s""""measured_s":$measuredS,"cycles":${catchups.size},""" +
        s""""drain_batches":${arr(drain.map(_.batchId))},""" +
        s""""drain_rows":${arr(drain.map(_.numInputRows))},""" +
        s""""cycle_batches":${arr(cycleBatches.toSeq.map(_.batchId))},""" +
        s""""cycle_rows":${arr(cycleBatches.toSeq.map(_.numInputRows))}}""")
    spark.stop()
  }
}

/** Per-micro-batch job, stage and task counts, shuffle bytes written and
  * executor CPU time, keyed by the (query id, batch id) local properties
  * the streaming engine sets on every job it runs for a batch. */
final class BatchTracer extends SparkListener {
  import BatchTracer.Acc
  private val byBatch = mutable.Map.empty[(String, Long), Acc]
  private val stageBatch = mutable.Map.empty[Int, (String, Long)]

  private def key(p: java.util.Properties): Option[(String, Long)] =
    for {
      props <- Option(p)
      q <- Option(props.getProperty("sql.streaming.queryId"))
      b <- Option(props.getProperty("streaming.sql.batchId"))
    } yield (q, b.toLong)

  def batch(queryId: String, batchId: Long): Acc =
    synchronized(byBatch.getOrElse((queryId, batchId), Acc()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    key(e.properties).foreach(k => byBatch.getOrElseUpdate(k, Acc()).jobs += 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    key(e.properties).foreach { k =>
      byBatch.getOrElseUpdate(k, Acc()).stages += 1
      stageBatch(e.stageInfo.stageId) = k
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageBatch.get(e.stageId).foreach { k =>
      val a = byBatch.getOrElseUpdate(k, Acc())
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.cpuNs += m.executorCpuTime
      }
    }
  }
}

object BatchTracer {
  final case class Acc(var jobs: Int = 0, var stages: Int = 0, var tasks: Int = 0,
      var shuffleBytes: Long = 0L, var cpuNs: Long = 0L)
}
