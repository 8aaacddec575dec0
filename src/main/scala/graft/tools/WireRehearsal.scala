package graft.tools

import graft.Tables
import graft.catalog.SchemaCatalog
import graft.streaming.CdcPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Wide-deployment rehearsal for the wire path (VERDICT r6 prescription
  * #8): a production Debezium firehose covers ~hundreds of tables, so a
  * single micro-batch fans out into one typed projection per (table,
  * catalog answer). The per-batch LOGICAL PLAN therefore has
  * O(#tables × #answers) union branches, and the thing that would break
  * first at wide deployment is not the data volume (each branch is one
  * narrow codegen'd pass) but Catalyst analysis/planning time on that
  * union — a super-linear plan build would stall the driver between
  * batches no matter how fast the executors are.
  *
  * This tool measures exactly that, against the real
  * [[CdcPipeline.ddlBarrier]] + [[CdcPipeline.typedProjections]] +
  * [[CdcPipeline.groupedUnions]] sharded sink `startWire` uses (the r7
  * all-tables union measured 1.58× per-table plan cost per table-count
  * doubling — this rehearsal is what caught it): synthesize a
  * parsed-shape batch spanning N tables (N = 100/200/400, after untimed
  * warm-ups at 25 and 50) × 4 position segments, register every table through the real DDL path,
  * then time (a) the batch's table spans, the DDL barrier (one in-batch
  * ALTER per table between consecutive segments, so each table types
  * under the version of every segment its rows reach) plus the static plan
  * build (analysis + optimization + initial physical planning) of every
  * per-group union-then-repartition frame and (b) the actual sharded
  * per-topic write (which re-plans each group in its own QueryExecution
  * and runs AQE — an upper bound on total per-batch cost). Emits one
  * JSON line to stdout and BENCH_wire.json with per-N seconds and the
  * worst per-table plan ratio across the 100→200→400 doublings — all
  * points warm and past the fixed-overhead floor. Per-table ratio 1.0
  * under a doubling is exactly linear (what per-group sharding should
  * give: every union is ≤ WireTableGroupSize branches no matter how wide
  * the deployment); 2.0 is quadratic. The gate fails above 2.0; the
  * ratio is reported so the trend stays visible round-over-round.
  *
  * Usage: runMain graft.tools.WireRehearsal [outJson] [workDir]
  */
object WireRehearsal {

  def main(args: Array[String]): Unit = {
    val outJson = args.lift(0).getOrElse("BENCH_wire.json")
    val workDir = args.lift(1).getOrElse("/tmp/graft_wire_rehearsal")
    val spark = Tables.session("graft-wire-rehearsal")
    val cluster = "clusterA"
    val nSegments = 4
    val Seg = 1000000L // position stride per segment (> #tables)
    val rowsPerTable = 50L

    // UNTIMED warm-ups: JVM/codegen/classloader cost lands there (one
    // warm-up left n25 and n50 reading above n100), so every timed size
    // is warm
    val warmups = Seq(25, 50)
    val sizes = warmups ++ Seq(100, 200, 400)
    val allResults = sizes.map { nTables =>
      val catalog = new SchemaCatalog()
      (0 until nTables).foreach { i =>
        catalog.applyDdl(cluster, "db0",
          s"CREATE TABLE t$i (id BIGINT NOT NULL, v DOUBLE, s VARCHAR(32), k INT, PRIMARY KEY (id))",
          atEventId = i.toLong)
      }

      // parsed-shape frame: the columns DebeziumAdapter.fromDebezium
      // produces, with rows striped across the N tables and 4 position
      // segments (segment s sits at positions s * Seg + Seg - 1, after
      // the segment's in-batch ALTERs at s * Seg + table; row id lands in
      // segment id % 4, so a table's rows reach 1, 2 or 4 segments as N
      // is divisible by 4, by 2, or neither).
      // Persisted like startWire persists its micro-batch parse, and
      // coalesced to a micro-batch-realistic partition
      // count — every per-table branch scans the cache, so the union's
      // map-task count is #branches × #cache-partitions.
      val n = nTables * rowsPerTable
      val seg = spark.range(n)
        .withColumn("database_name", lit("db0"))
        .withColumn("table_name", concat(lit("t"), (col("id") % nTables).cast("string")))
        .withColumn("message_type", lit("insert"))
        .withColumn("after", map(
          lit("id"), col("id").cast("string"),
          lit("v"), (col("id") * 0.5).cast("string"),
          lit("s"), concat(lit("s"), col("id").cast("string")),
          lit("k"), (col("id") % 7).cast("string")))
        .withColumn("before", lit(null).cast(MapType(StringType, StringType)))
        .withColumn("log_file", lit("binlog.000001"))
        .withColumn("log_pos", col("id") * 4L)
        .withColumn("row_idx", lit(0))
        .withColumn("ts_us", lit(1700000000000000L) + col("id"))
        .withColumn("transaction_id", concat(lit("tx"), col("id").cast("string")))
        .withColumn("__pos", (col("id") % nSegments) * Seg + (Seg - 1))
        .coalesce(4)
        .persist()
      seg.count() // materialize the cache before timing

      // the batch's DDL: one ALTER per table at each inner segment boundary
      val ddls = (1 until nSegments).flatMap(s => (0 until nTables).map(i =>
        CdcPipeline.Ddl(cluster, "db0", s"ALTER TABLE t$i ADD c$s INT", s * Seg + i)))

      // ---- (a) DDL barrier + STATIC plan build: typed projections →
      // per-group unions → repartition, exactly the sharded frames
      // startWire writes. executedPlan forces analysis + optimization +
      // INITIAL physical planning of every group (AQE's runtime
      // re-planning happens later, during execution). This is the
      // per-batch driver cost paid before any task launches.
      val t0 = System.nanoTime()
      // the data tables with their rows' span, as the control collect
      // returns them
      val keys = seg.groupBy("table_name").agg(min("__pos"), max("__pos")).collect()
        .map(r => CdcPipeline.DataKey(cluster, "db0", r.getString(0),
          Some((r.getLong(1), r.getLong(2))))).toSeq.sortBy(_.table)
      val typing = CdcPipeline.ddlBarrier(catalog, ddls, keys)
      assert(typing.forall(_._2.forall(_.answer.nonEmpty)),
        "every table must type under a registered schema")
      val outs = CdcPipeline.typedProjections(seg, typing)
      val groups = CdcPipeline.groupedUnions(outs).map(
        _.repartition(col("topic")).sortWithinPartitions("pos_key"))
      groups.foreach(_.queryExecution.executedPlan) // force static plan build
      val planSecs = (System.nanoTime() - t0) / 1e9

      // ---- (b) the write (same sharded sink contract as startWire:
      // clear the dir, append per group). NOTE: DataFrameWriter wraps
      // each frame in a SEPARATE QueryExecution, so
      // write_sec INCLUDES a second static plan build plus AQE
      // finalization plus execution+I/O — it bounds total per-batch cost
      // from above; plan_sec isolates the static planning share.
      val t1 = System.nanoTime()
      val outPath = new org.apache.hadoop.fs.Path(s"$workDir/n$nTables")
      outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(outPath, true)
      groups.foreach(_.write.mode("append").parquet(s"$workDir/n$nTables"))
      val writeSecs = (System.nanoTime() - t1) / 1e9
      val written = spark.read.parquet(s"$workDir/n$nTables").count()
      assert(written == n, s"wire rehearsal lost rows: $written != $n")
      seg.unpersist()
      (nTables, planSecs, writeSecs)
    }
    val results = allResults.drop(warmups.size)

    // Verdict from the timed doublings (100 → 200 → 400): a small size's
    // per-table cost is dominated by fixed per-run overhead (job setup,
    // the DDL barrier) divided by few tables, which
    // DEFLATES a naive widest-vs-narrowest ratio and would let a
    // genuinely super-linear build pass. Per-table ratio under the
    // doubling: 1.0 = linear, 2.0 = quadratic; the gate rejects
    // quadratic-or-worse (see object scaladoc).
    // ---- maintenance leg (r11): the sink publishes one batch=<id> dir
    // per trigger; measure what compactWireBatches recovers after a
    // simulated 96-trigger day-slice (2 topics, pos_key monotone, 2
    // files/dir — the sink's layout), with an 8-batch retained window
    // and 16-batch spans.
    val maintDir = s"$workDir/maint"
    val maintPath = new org.apache.hadoop.fs.Path(maintDir)
    maintPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(maintPath, true)
    import spark.implicits._
    (0 until 96).foreach { b =>
      Seq.tabulate(8) { i =>
        (if (i % 2 == 0) "db0.t0" else "db0.t1",
          f"binlog.000001:${b * 1000 + i}%010d:0000", s"p-$b-$i")
      }.toDF("topic", "pos_key", "payload_json")
        .repartition(2, col("topic")).sortWithinPartitions("pos_key")
        .write.mode("append").parquet(s"$maintDir/batch=$b")
    }
    val t2 = System.nanoTime()
    val comp = CdcPipeline.compactWireBatches(spark, maintDir,
      retainLast = 8, spanSize = 16)
    val compactSecs = (System.nanoTime() - t2) / 1e9
    val maintRows = spark.read.parquet(maintDir).count()
    assert(maintRows == 96L * 8, s"maintenance leg lost rows: $maintRows")

    // ---- long-horizon steady state (r11): one compaction pass shows the
    // mechanism; what a deployment needs is that PERIODIC maintenance
    // holds the directory count BOUNDED as triggers keep arriving. A
    // simulated 8-hour slice at a 1-minute trigger (480 batches, 2
    // topics), compaction every 48 triggers plus a 192-batch retention
    // expiry: after every maintenance call the dir count must stay under
    // the structural bound (sealed spans inside the retention window +
    // the unsealed tail + the byte-identical replay window), against 480
    // uncompacted dirs without maintenance. Expiry keys on a span's
    // HIGHEST id, so a straddling span conservatively keeps a few older
    // rows — the retention contract is "at least the newest N", pinned
    // below by payload identity.
    val horDir = s"$workDir/horizon"
    val horPath = new org.apache.hadoop.fs.Path(horDir)
    val horFs = horPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    horFs.delete(horPath, true)
    val horBatches = 480
    val horRows = 4
    val horRetention = 192L
    var horMaxDirs = 0
    var horMaintSecs = 0.0
    (0 until horBatches).foreach { b =>
      Seq.tabulate(horRows) { i =>
        (if (i % 2 == 0) "db0.t0" else "db0.t1",
          f"binlog.000001:${b * 1000 + i}%010d:0000", s"p-$b-$i")
      }.toDF("topic", "pos_key", "payload_json")
        .coalesce(1).write.mode("append").parquet(s"$horDir/batch=$b")
      if ((b + 1) % 48 == 0) {
        val tm = System.nanoTime()
        CdcPipeline.compactWireBatches(spark, horDir,
          retainLast = 8, spanSize = 16)
        CdcPipeline.expireWireBatches(spark, horDir,
          belowId = (b + 1) - horRetention)
        horMaintSecs += (System.nanoTime() - tm) / 1e9
        val dirs = horFs.listStatus(horPath).count(s =>
          s.isDirectory && s.getPath.getName.startsWith("batch="))
        horMaxDirs = math.max(horMaxDirs, dirs)
      }
    }
    // structural bound: retention/spanSize sealed spans + (spanSize - 1)
    // unsealed tail + retainLast raw dirs + one straddling span
    val horBound = (horRetention / 16 + 15 + 8 + 1).toInt
    assert(horMaxDirs <= horBound,
      s"horizon: dir count $horMaxDirs exceeded the steady-state bound $horBound")
    // retention: every row of the newest 192 ORIGINAL batches is still
    // present, by payload identity (a compacted row's `batch` partition
    // value is its SPAN's id, so a bare count over the partition column
    // could mask a lost row behind a straddling span's older ones)
    val horBack = spark.read.parquet(horDir)
      .withColumn("src_batch",
        split(col("payload_json"), "-").getItem(1).cast("long"))
    val horKept = horBack
      .filter(col("src_batch") >= horBatches - horRetention)
      .select("payload_json").distinct().count()
    assert(horKept == horRetention * horRows,
      s"horizon: retention window lost rows ($horKept != ${horRetention * horRows})")

    val perTable = results.map { case (nt, p, _) => (nt, p / nt) }.toMap
    // worst per-table ratio across the warm doublings: sharding should
    // hold BOTH ≈1.0 (each is planned as ≤ WireTableGroupSize-branch
    // unions regardless of N)
    val ratio = math.max(perTable(200) / perTable(100), perTable(400) / perTable(200))
    val qs = results.map { case (nt, p, w) =>
      s""""n$nt":{"plan_sec":$p,"write_sec":$w}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"wire_rehearsal","value":${results.map(_._2).sum},""" +
        s""""unit":"sec","sizes":$qs,"segments":$nSegments,""" +
        s""""rows_per_table":$rowsPerTable,""" +
        s""""per_table_plan_ratio_worst_doubling":$ratio,""" +
        s""""maintenance":{"batches":96,"spans_sealed":${comp.spans.size},""" +
        s""""dirs_before":${comp.dirsBefore},"dirs_after":${comp.dirsAfter},""" +
        s""""files_before":${comp.filesBefore},"files_after":${comp.filesAfter},""" +
        s""""compact_sec":$compactSecs},""" +
        s""""horizon":{"batches":$horBatches,"maintenance_every":48,""" +
        s""""retention":$horRetention,"max_dirs_after_maintenance":$horMaxDirs,""" +
        s""""dir_bound":$horBound,"maintenance_sec_total":$horMaintSecs}}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    spark.stop()
    if (ratio > 2.0) {
      System.err.println(f"[wire] batch-plan time is SUPER-LINEAR in #tables " +
        f"(per-table ratio $ratio%.2f at 200 vs 100) — switch the sink to per-table writes")
      sys.exit(1)
    }
  }
}
