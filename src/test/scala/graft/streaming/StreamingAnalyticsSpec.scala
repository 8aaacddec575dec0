package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Event-time semantics: watermark closes windows and drops late data;
  * custom session state survives batches and times out on watermark
  * advance. */
class StreamingAnalyticsSpec extends AnyFunSuite {

  private lazy val spark = Tables.session("streaming-analytics-spec", "4")

  private val T0 = 1700000000000000L // µs epoch base

  private def min(m: Long): Long = m * 60L * 1000000L

  test("watermarked windowed counts emit closed windows and drop late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)] // (user, table, ts_us)
    val cdc = input.toDF().toDF("user_id", "base_table", "ts_us")
    val q = StreamingAnalytics.windowedCounts(cdc, "1 minute", "2 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("append").start()

    // window [T0, T0+1m): 3 rows for t1, 1 for t2
    input.addData((1L, "t1", T0), (2L, "t1", T0 + 1000), (3L, "t1", T0 + 2000), (4L, "t2", T0 + 3000))
    q.processAllAvailable()
    // advance watermark past T0+1m+2m: close the first window
    input.addData((5L, "t1", T0 + min(5)))
    q.processAllAvailable()
    input.addData((6L, "t1", T0 + min(6))) // push watermark again
    q.processAllAvailable()

    val closed = spark.table("wc")
      .select(unix_micros(col("window_start")).as("ws"), col("base_table"), col("n_messages"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(closed.contains((T0 - T0 % min(1), "t1", 3L)), s"got $closed")
    assert(closed.contains((T0 - T0 % min(1), "t2", 1L)), s"got $closed")

    // a row 10 minutes behind the watermark must be DROPPED, not re-emitted
    input.addData((7L, "t1", T0 + 500))
    q.processAllAvailable()
    val afterLate = spark.table("wc").filter(col("base_table") === "t1")
      .agg(sum("n_messages")).collect()(0).getLong(0)
    assert(afterLate == 3L, "late row must not reopen a closed window")
    q.stop()
  }

  test("flatMapGroupsWithState sessionizer: in-batch splits and timeout emission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingAnalytics.Ev]
    val sessions = StreamingAnalytics.sessionize(input.toDS(), gapUs = min(30))
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()

    // user 1: two sessions split by a >30min in-batch gap; user 2: one
    input.addData(
      StreamingAnalytics.Ev(1, T0), StreamingAnalytics.Ev(1, T0 + min(5)),
      StreamingAnalytics.Ev(1, T0 + min(60)), StreamingAnalytics.Ev(2, T0 + min(60)))
    q.processAllAvailable()
    // in-batch closed session emitted immediately
    val r1 = spark.table("sess").as[StreamingAnalytics.SessionOut].collect()
    assert(r1.toSet == Set(StreamingAnalytics.SessionOut(1, T0, T0 + min(5), 2)), s"got ${r1.toSet}")

    // advance watermark far past lastSeen+gap → open sessions time out
    input.addData(StreamingAnalytics.Ev(3, T0 + min(300)))
    q.processAllAvailable()
    input.addData(StreamingAnalytics.Ev(3, T0 + min(301)))
    q.processAllAvailable()

    val r2 = spark.table("sess").as[StreamingAnalytics.SessionOut].collect().toSet
    assert(r2.contains(StreamingAnalytics.SessionOut(1, T0 + min(60), T0 + min(60), 1)), s"got $r2")
    assert(r2.contains(StreamingAnalytics.SessionOut(2, T0 + min(60), T0 + min(60), 1)), s"got $r2")
    q.stop()
  }

  test("dedup within watermark drops near dups but evicts state past the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (event_id, ts_us)
    val df = input.toDF().toDF("event_id", "ts_us")
    val q = StreamingAnalytics.dedupWithinWatermark(df, "event_id", "10 minutes")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()

    // duplicate ids inside the horizon → one survivor each
    input.addData((1L, T0), (1L, T0 + 1000), (2L, T0), (2L, T0 + 2000))
    q.processAllAvailable()
    assert(spark.table("dd").groupBy("event_id").count()
      .filter(col("count") > 1).count() == 0)
    val n1 = spark.table("dd").count()
    assert(n1 == 2)

    // advance the watermark far past the horizon, then re-send id 1:
    // its state must have been evicted, so it is emitted AGAIN
    input.addData((99L, T0 + min(120)))
    q.processAllAvailable()
    input.addData((98L, T0 + min(121)))
    q.processAllAvailable()
    input.addData((1L, T0 + min(122)))
    q.processAllAvailable()
    val id1 = spark.table("dd").filter(col("event_id") === 1L).count()
    assert(id1 == 2, s"state not evicted: id1 seen $id1 times")
    q.stop()
  }

  test("streaming windowed counts equal the batch groupBy on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), lit("t0").as("base_table"), col("ts_us"))
    val rows = ev.as[(Long, String, Long)].collect()

    val input = MemoryStream[(Long, String, Long)]
    val q = StreamingAnalytics.windowedCounts(input.toDF().toDF("user_id", "base_table", "ts_us"))
      .writeStream.format("memory").queryName("wc2").outputMode("complete").start()
    input.addData(rows.toSeq)
    q.processAllAvailable()

    val streaming = spark.table("wc2")
      .select(unix_micros(col("window_start")), col("n_messages"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = ev.withColumn("ws", expr("ts_us - ts_us % 60000000"))
      .groupBy("ws").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streaming == batch)
    q.stop()
  }

  test("streaming budget admission caps each source and survives batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingAnalytics.{Admission, DocTok}
    val budget = 100L
    // two sources; each doc 30 tokens → budget admits docs while used < 100
    // (0, 30, 60, 90 admitted; 120 not) = 4 docs per source
    val mk = (src: String, i: Int) => DocTok(i.toLong * 2 + (if (src == "s0") 0 else 1),
      src, 30L, T0 + i * 1000L)
    val wave1 = (0 until 3).flatMap(i => Seq(mk("s0", i), mk("s1", i)))
    val wave2 = (3 until 6).flatMap(i => Seq(mk("s0", i), mk("s1", i)))

    val input = MemoryStream[DocTok]
    val q = StreamingAnalytics.budgetAdmission(input.toDS(), budget)
      .writeStream.format("memory").queryName("adm").outputMode("append").start()
    input.addData(wave1)
    q.processAllAvailable()
    input.addData(wave2) // state must carry the per-source counters across
    q.processAllAvailable()

    val out = spark.table("adm").as[Admission].collect()
    assert(out.length == 12)
    for (src <- Seq("s0", "s1")) {
      val bySrc = out.filter(_.source == src).sortBy(_.doc_id)
      assert(bySrc.count(_.admitted) == 4, s"$src admitted ${bySrc.count(_.admitted)}")
      // admitted prefix in event order; cum_before counts ADMITTED tokens only
      assert(bySrc.map(_.admitted).toSeq == Seq(true, true, true, true, false, false))
      assert(bySrc.map(_.cum_before).toSeq == Seq(0L, 30L, 60L, 90L, 120L, 120L))
    }
    q.stop()
  }

  test("streaming IVF ingest monitor matches the batch drift assignment per cell") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val cent = graft.data.VectorOps.convergedCentroids(emb, k = 4, maxIter = 24)

    // stream the embeddings in with synthetic event times, one window
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, e) => (id, e, T0 + id * 1000L) }
    val input = MemoryStream[(Long, Seq[Float], Long)]
    val q = StreamingAnalytics.ivfIngestMonitor(
        input.toDF().toDF("vec_id", "embedding", "ts_us"), cent,
        windowLength = "60 minutes")
      .writeStream.format("memory").queryName("ivfmon").outputMode("complete").start()
    input.addData(rows)
    q.processAllAvailable()

    val streaming = spark.table("ivfmon")
      .select("cell", "n").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // batch reference: the same literal-centroid argmin via ivfDrift's
    // assignment (everything is "new" past baseMaxId = 0 — counts per cell)
    val batch = graft.data.VectorOps.ivfDrift(emb, k = 4, baseMaxId = 0L)
    // ivfDrift trains on first-k; the monitor uses CONVERGED centroids, so
    // recompute the batch counts with the same converged centroids instead
    val cdf = cent.map { case (c, qv, _) => (c, qv) }.toDF("c_id", "c_qv")
      .withColumn("c_nn", expr("graft_dot_long(c_qv, c_qv)"))
    val assigned = graft.data.VectorOps.quantized(emb)
      .crossJoin(broadcast(cdf))
      .withColumn("dist2", expr("nn - 2 * graft_dot_long(qv, c_qv) + c_nn"))
      .groupBy("vec_id")
      .agg(expr("min_by(c_id, struct(dist2, c_id))").as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.count() > 0) // the s10 path itself still builds
    assert(streaming == assigned,
      s"streaming per-cell counts $streaming != batch $assigned")
    q.stop()
  }

  test("streaming PQ code monitor matches the batch codebook audit per (subspace, code)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val cb = graft.data.VectorOps.pqCodebookLiterals(emb)
    assert(cb.length == 8 * 16, "full codebook collected")

    // stream the embeddings in with synthetic event times, one window
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, e) => (id, e, T0 + id * 1000L) }
    val input = MemoryStream[(Long, Seq[Float], Long)]
    val q = StreamingAnalytics.pqIngestMonitor(
        input.toDF().toDF("vec_id", "embedding", "ts_us"), cb,
        windowLength = "60 minutes")
      .writeStream.format("memory").queryName("pqmon").outputMode("complete").start()
    input.addData(rows)
    q.processAllAvailable()

    val streaming = spark.table("pqmon")
      .select("s", "code", "n", "mean_d2").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap

    // batch reference: s13's audit over the same corpus and codebook —
    // occupied cells must agree in BOTH count and (integer-exact) mean
    val batch = graft.data.VectorOps.pqHealth(emb)
      .filter(col("n_assigned") > 0)
      .select("s", "code", "n_assigned", "mean_d2").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streaming == batch,
      s"streaming per-(s,code) cells diverged from batch pqHealth:\n" +
        s"only-streaming=${(streaming.keySet -- batch.keySet).take(5)}\n" +
        s"only-batch=${(batch.keySet -- streaming.keySet).take(5)}")
    q.stop()
  }

  test("streaming semantic-dedup admission matches batch d14's dup_of_base under any wave split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val baseMax = 25L
    val cent = graft.data.VectorOps.convergedCentroids(
      emb.filter(col("vec_id") < baseMax), k = 4, maxIter = 24)
    val keepers = graft.data.VectorOps.semBaseKeepers(emb, baseMaxId = baseMax, k = 4)

    // batch reference: the increment's dup_of_base column — the verdict
    // that depends ONLY on the stored base artifact, hence wave-invariant
    val batch = graft.data.VectorOps.semDedupIncremental(emb, baseMaxId = baseMax, k = 4)
      .select("vec_id", "c_id", "dup_of_base").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

    val newRows = emb.filter(col("vec_id") >= baseMax)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val (w1, w2) = newRows.splitAt(newRows.size / 3) // deliberately uneven waves
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnalytics.semIngestDedup(
        input.toDF().toDF("vec_id", "embedding"), cent, keepers)
      .writeStream.format("memory").queryName("semadm").outputMode("append").start()
    input.addData(w1)
    q.processAllAvailable()
    input.addData(w2)
    q.processAllAvailable()

    val streaming = spark.table("semadm")
      .select("vec_id", "cell", "dup_of_base").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(streaming.size == newRows.size, "one verdict per arriving vector")
    assert(streaming == batch,
      s"streaming admission diverged from batch d14:\n" +
        s"diff=${(streaming.toSet -- batch.toSet).take(5)}")
    q.stop()
  }

  test("streaming perceptual-hash near-dup converges to the batch m6 pair set under any wave split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val batch = graft.data.MultimodalOps.phashNearDup(docs)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(batch.nonEmpty, "batch m6 found no pairs at this scale — spec vacuous")

    val rows = docs.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (w1, w2) = rows.splitAt(rows.size / 3) // deliberately uneven waves
    val input = MemoryStream[(Long, String)]
    val q = StreamingAnalytics.phashNearDupStream(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("phstream").outputMode("append").start()
    input.addData(w1)
    q.processAllAvailable()
    input.addData(w2)
    q.processAllAvailable()

    val streaming = spark.table("phstream").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streaming == batch,
      s"streaming pairs diverged from batch m6:\n" +
        s"only-streaming=${(streaming -- batch).take(5)}\nonly-batch=${(batch -- streaming).take(5)}")
    q.stop()
  }

  test("streaming phash keeper assignment equals batch m8 on id-ordered replays under any batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val batch = graft.data.MultimodalOps.phashKeepers(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(batch.values.exists(_._2), "no dup at this scale — spec vacuous")
    assert(batch.values.exists(!_._2), "all docs dup — spec vacuous")

    // cross-check the batch keeper view against the batch m6 PAIR set:
    // keeper(d) = min earlier hamming<=1 neighbor, else self — the two
    // reports must tell one story before the stream is held to it
    val nbrMin = graft.data.MultimodalOps.phashNearDup(docs)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(org.apache.spark.sql.functions.min("doc_a").as("mn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    batch.foreach { case (d, (keeper, isDup)) =>
      assert(keeper == nbrMin.getOrElse(d, d) && isDup == nbrMin.contains(d),
        s"m8 keeper of $d disagrees with the m6 pair set")
    }

    val rows = docs.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1).toSeq // id-ordered replay: the determinism contract
    val splitsVariants = Seq(
      Seq(rows),                                        // one batch
      { val (a, b) = rows.splitAt(rows.size / 3); Seq(a, b) }, // uneven two
      rows.grouped(7).toSeq)                            // many small batches
    splitsVariants.foreach { waves =>
      val input = MemoryStream[(Long, String)]
      val q = StreamingAnalytics.phashKeeperStream(
          input.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("phkeep")
        .outputMode("append").start()
      waves.foreach { w => input.addData(w); q.processAllAvailable() }
      val streaming = spark.table("phkeep").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      assert(streaming.size == rows.size,
        s"one assignment per arriving asset, got ${streaming.size} of ${rows.size}")
      assert(streaming == batch,
        s"streaming keepers diverged from batch m8 at ${waves.size} waves:\n" +
          s"diff=${(streaming.toSet -- batch.toSet).take(5)}")
      q.stop()
    }
  }

  test("streaming rate-anomaly monitor flags the spike window by the exact batch rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 16 one-minute training buckets: fifteen at 10 events, one spike at
    // 100 — baseline (S, SS) computed the way batch q34 trains them
    val counts = (0 until 16).map(i => if (i == 7) 100 else 10)
    val S = counts.map(_.toLong).sum            // 250
    val SS = counts.map(c => c.toLong * c).sum  // 11500
    val T0A = (T0 / min(1)) * min(1)            // minute-aligned start
    val rows = for {
      (c, i) <- counts.zipWithIndex
      j <- 0 until c
    } yield ("click", T0A + i * min(1) + j * 100L)

    val input = MemoryStream[(String, Long)]
    val q = StreamingAnalytics.rateAnomalyStream(
        input.toDF().toDF("event_type", "ts_us"),
        Map("click" -> (S, SS)), b = 16,
        windowLength = "1 minute", watermarkDelay = "2 minutes")
      .writeStream.format("memory").queryName("ratemon").outputMode("append").start()
    val (w1, w2) = rows.splitAt(rows.size / 2)
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    input.addData(("click", T0A + min(60))) // advance watermark: close all
    q.processAllAvailable()

    val out = spark.table("ratemon")
      .select(unix_micros(col("window_start")).as("ws"), col("n"),
        col("dev2"), col("thr"), col("is_anomaly"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out.size == 16, s"all 16 training windows must finalize, got ${out.size}")
    for ((c, i) <- counts.zipWithIndex) {
      val (n, dev2, thr, flag) = out(T0A + i * min(1))
      assert(n == c)
      assert(dev2 == (16L * c - S) * (16L * c - S), s"window $i dev2")
      assert(thr == 9L * (16L * SS - S * S), s"window $i thr")
      assert(flag == (i == 7), s"window $i flag must be ${i == 7}")
    }
    q.stop()
  }

  test("streaming rate-anomaly monitor flags a type absent from the baseline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the baseline trained on "click" only; the stream also carries a
    // brand-new "signup" type — the loudest anomaly a monitor can see.
    // Under the zero baseline (s = ss = 0) the exact rule degenerates to
    // (B·n)² > 0, so ANY nonzero signup window must flag.
    val T0A = (T0 / min(1)) * min(1)
    val rows = (0 until 10).map(j => ("click", T0A + j * 100L)) ++
      (0 until 3).map(j => ("signup", T0A + j * 100L))
    val input = MemoryStream[(String, Long)]
    val q = StreamingAnalytics.rateAnomalyStream(
        input.toDF().toDF("event_type", "ts_us"),
        Map("click" -> (160L, 1600L)), b = 16,
        windowLength = "1 minute", watermarkDelay = "2 minutes")
      .writeStream.format("memory").queryName("ratemon2").outputMode("append").start()
    input.addData(rows); q.processAllAvailable()
    input.addData(("click", T0A + min(60))) // advance watermark: close all
    q.processAllAvailable()

    val out = spark.table("ratemon2")
      .select("event_type", "n", "dev2", "thr", "is_anomaly")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out.contains("signup"), "unseen type must emit a row, not vanish in the join")
    val (n, dev2, thr, flag) = out("signup")
    assert(n == 3 && dev2 == 48L * 48L && thr == 0L && flag,
      s"unseen type must flag under the zero baseline: n=$n dev2=$dev2 thr=$thr flag=$flag")
    // the trained type's uniform-rate window stays quiet (10/min, baseline
    // 10/bucket over 16 buckets: dev2 = 0)
    assert(out("click") == ((10L, 0L, 9L * (16L * 1600L - 160L * 160L), false)))
    q.stop()
  }

  test("streaming CMS counters equal an independent re-derivation of the batch grid") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq

    // independent straight-line reference of the 4x64 grid
    def hex13(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      hex.take(13).foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
    }
    val expected = docs.flatMap { case (_, t) => t.split(" ", -1) }
      .flatMap(term => (0 until 4).map(j => (j.toLong, hex13(s"$j:$term") % 64)))
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }

    val rows = docs.map { case (id, t) => (id, t, T0 + id * 1000L) }
    val (w1, w2) = rows.splitAt(rows.size / 3)
    val input = MemoryStream[(Long, String, Long)]
    val q = StreamingAnalytics.cmsIngestStream(
        input.toDF().toDF("doc_id", "text", "ts_us"), windowLength = "60 minutes")
      .writeStream.format("memory").queryName("cmsstream")
      .outputMode("complete").start()
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()

    val streaming = spark.table("cmsstream")
      .groupBy("j", "cell").agg(sum("c").as("c")).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getLong(2)).toMap
    assert(streaming.values.sum == expected.values.sum, "total mass must match")
    assert(streaming == expected,
      s"streaming CMS grid diverged: only-stream=${(streaming.toSet -- expected.toSet).take(3)} " +
        s"only-expected=${(expected.toSet -- streaming.toSet).take(3)}")
    q.stop()
  }

  test("streaming quantile sketch equals an independent bottom-k re-derivation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "source", "n_chars").as[(Long, String, Long)]
      .collect().toSeq

    // independent straight-line reference: per source, the k rows with
    // the smallest (md5-hex13, value) keys, values sorted ascending —
    // exactly what graft_qsketch must retain regardless of arrival order
    def hex13(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      hex.take(13).foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
    }
    val k = 8 // small enough that sampling ENGAGES on the bigger sources
    val expected = docs.groupBy(_._2).map { case (src, xs) =>
      val sample = xs.map { case (id, _, v) => (hex13(s"$id:qs"), v) }
        .sorted.take(k).map(_._2).sorted
      src -> ((xs.size.toLong, sample))
    }

    val rows = docs.map { case (id, src, v) => (id, src, v, T0 + id * 1000L) }
    val input = MemoryStream[(Long, String, Long, Long)]
    val q = StreamingAnalytics.qsketchIngestStream(
        input.toDF().toDF("doc_id", "source", "n_chars", "ts_us"),
        k = k, windowLength = "60 minutes")
      .writeStream.format("memory").queryName("qsstream")
      .outputMode("complete").start()
    // three uneven waves: the sketch state must merge across micro-batches
    val (w1, rest) = rows.splitAt(rows.size / 3)
    val (w2, w3) = rest.splitAt(rest.size / 4)
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    input.addData(w3); q.processAllAvailable()

    val got = spark.table("qsstream")
      .select("source", "n_docs", "sample", "p50_est", "p90_est")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[Long](2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == expected.keySet, s"sources: ${got.keySet}")
    expected.foreach { case (src, (n, sample)) =>
      val (gn, gs, p50, p90) = got(src)
      assert(gn == n, s"$src n_docs: $gn != $n")
      assert(gs == sample, s"$src sample diverged: got $gs want $sample")
      val sz = sample.size
      assert(p50 == sample((sz + 1) / 2 - 1), s"$src p50")
      assert(p90 == sample((9 * sz + 9) / 10 - 1), s"$src p90")
    }
    q.stop()
  }

  test("streaming DSIR admission equals batch importance resampling on the training corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docsDf = Tables.documents(spark, dir)
    // the deployable batch artifacts: the O(256) weight model and the
    // batch acceptance verdicts the stream must reproduce
    val weights = graft.data.TextOps.dsirBucketWeights(docsDf)
    val batch = graft.data.TextOps.importanceResample(docsDf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val scoredBatch = batch.filter(_._2._1 > 0)

    val rows = docsDf.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val q = StreamingAnalytics.dsirAdmissionStream(
        input.toDF().toDF("doc_id", "text"), weights)
      .writeStream.format("memory").queryName("dsiradm")
      .outputMode("append").start()
    val (w1, w2) = rows.splitAt(rows.size / 2)
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()

    val got = spark.table("dsiradm")
      .as[StreamingAnalytics.DsirAdmission].collect()
      .map(d => d.doc_id -> d).toMap
    // exactly the batch-scored docs emit (sub-2-word docs never score)
    assert(got.keySet == scoredBatch.keySet,
      s"only-stream=${(got.keySet -- scoredBatch.keySet).take(3)} " +
        s"only-batch=${(scoredBatch.keySet -- got.keySet).take(3)}")
    scoredBatch.foreach { case (id, (n, s, u, a)) =>
      val g = got(id)
      assert((g.n_bigrams, g.score_q, g.u_q, g.admitted) == ((n, s, u, a)),
        s"doc $id diverged: stream=$g batch=($n,$s,$u,$a)")
    }
    // the gate is live in both directions on this corpus
    assert(got.values.exists(_.admitted) && got.values.exists(!_.admitted))
    q.stop()
  }

  test("composed curation admission: every gate equals its batch frame; budget follows the operational rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docsDf = Tables.documents(spark, dir)

    // deployable batch artifacts (plan-time literals at deployment)
    val benchHashes = graft.data.TextOps.benchmarkShingleHashes(docsDf)
    val weights = graft.data.TextOps.dsirBucketWeightArray(docsDf)
    assert(benchHashes.nonEmpty && weights.exists(_ != 0L))

    // per-stage batch references, flag-for-flag
    val qKeep = graft.data.TextOps.filterFlags(docsDf)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val contam = graft.data.TextOps.decontaminate(docsDf)
      .select("doc_id", "is_contaminated").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // bench docs (id < 10) are absent from x12's output — they ARE the
    // benchmark, contaminated by definition in any admission chain
    def expContam(id: Long): Boolean = contam.getOrElse(id, id < 10)
    val dsir = graft.data.TextOps.importanceResample(docsDf)
      .select("doc_id", "accept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val toks = graft.data.TextOps.tokenCount(docsDf)
      .select("doc_id", "bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val srcOf = docsDf.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // arrival order = (ts_us, doc_id); straight-line fold of the
    // documented operational budget rule over the gated docs
    // small enough that at least one source exhausts it on this corpus
    // (the first gated doc per source always admits: used starts at 0)
    val budget = 200L
    val rows = srcOf.keys.toSeq.sorted.map(id =>
      (id, srcOf(id), 1700000000000000L + id * 1000L))
    val expectedAdmit = scala.collection.mutable.Map.empty[Long, (Long, Boolean)]
    val usedBySrc = scala.collection.mutable.Map.empty[String, Long]
    rows.sortBy(r => (r._3, r._1)).foreach { case (id, src, _) =>
      val pre = qKeep(id) && !expContam(id) && dsir(id)
      val used = usedBySrc.getOrElse(src, 0L)
      val admit = pre && used < budget
      expectedAdmit(id) = (used, admit)
      if (admit) usedBySrc(src) = used + toks(id)
    }

    val text = docsDf.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val feed = rows.map { case (id, src, ts) => (id, src, text(id), ts) }
    val input = MemoryStream[(Long, String, String, Long)]
    val q = StreamingAnalytics.curationAdmissionStream(
        input.toDF().toDF("doc_id", "source", "text", "ts_us"),
        benchHashes, weights, budgetTokens = budget)
      .writeStream.format("memory").queryName("curadm")
      .outputMode("append").start()
    // waves split on the arrival order (a stream cannot reorder)
    val ordered = feed.sortBy(r => (r._4, r._1))
    val (w1, rest) = ordered.splitAt(ordered.size / 3)
    val (w2, w3) = rest.splitAt(rest.size / 2)
    input.addData(w1); q.processAllAvailable()
    input.addData(w2); q.processAllAvailable()
    input.addData(w3); q.processAllAvailable()

    val got = spark.table("curadm")
      .as[StreamingAnalytics.CurationVerdict].collect()
      .map(v => v.doc_id -> v).toMap
    assert(got.keySet == srcOf.keySet, "one verdict per arriving doc")
    got.values.foreach { v =>
      assert(v.keep_quality == qKeep(v.doc_id), s"doc ${v.doc_id} quality")
      assert(v.is_contaminated == expContam(v.doc_id), s"doc ${v.doc_id} contam")
      assert(v.dsir_admitted == dsir(v.doc_id), s"doc ${v.doc_id} dsir")
      assert(v.n_tokens == toks(v.doc_id), s"doc ${v.doc_id} tokens")
      val (used, admit) = expectedAdmit(v.doc_id)
      assert(v.admitted == admit && v.budget_used_before == used,
        s"doc ${v.doc_id} budget: got (${v.budget_used_before},${v.admitted}) want ($used,$admit)")
    }
    // the chain is live: every gate rejects something, budget engages
    assert(got.values.exists(!_.keep_quality))
    assert(got.values.exists(_.is_contaminated))
    assert(got.values.exists(v => v.keep_quality && !v.is_contaminated && !v.dsir_admitted))
    assert(got.values.exists(v => v.keep_quality && !v.is_contaminated &&
      v.dsir_admitted && !v.admitted), "budget never rejected a gated doc")
    assert(got.values.exists(_.admitted), "nothing admitted")
    q.stop()
  }

  test("curation admission flags a sub-3-word benchmark doc by id, and streams reject SQL-escaping seeds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ADVICE r11: a benchmark doc with < 3 words has sh_h = [] and the
    // overlap test alone would admit it into training through its own
    // benchmark's gate; the batch chain drops all bench docs by id
    val input = MemoryStream[(Long, String, String, Long)]
    val df = input.toDF().toDF("doc_id", "source", "text", "ts_us")
    val q = StreamingAnalytics.curationAdmissionStream(
        df, benchShingleHashes = Seq(42L), bucketWeights = Seq.fill(16)(0L),
        budgetTokens = 1000L)
      .writeStream.format("memory").queryName("curadm_tiny")
      .outputMode("append").start()
    input.addData((3L, "s", "two words", T0), (50L, "s", "two words", T0 + 1))
    q.processAllAvailable()
    val got = spark.table("curadm_tiny")
      .as[StreamingAnalytics.CurationVerdict].collect()
      .map(v => v.doc_id -> v).toMap
    assert(got(3L).is_contaminated && !got(3L).admitted,
      "sub-3-word benchmark doc slipped through the contamination gate")
    assert(!got(50L).is_contaminated,
      "same text under a non-benchmark id must not flag by id alone")
    q.stop()
    // seeds are spliced into SQL expression text in both admission streams
    intercept[IllegalArgumentException](StreamingAnalytics
      .curationAdmissionStream(df, Seq(1L), Seq(0L), 10L, seed = "a'b"))
    intercept[IllegalArgumentException](StreamingAnalytics
      .dsirAdmissionStream(df, spark.emptyDataFrame, seed = "a'b"))
  }

  test("streaming quantile sketch: an all-null window reports NULL, not a crash") {
    // the sketch skips null values, count(1) does not — a window whose
    // rows all carry null yields an EMPTY sample with n_docs > 0, and an
    // unguarded element_at(sample, 0) would kill the stream under ANSI
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Long)]
    val df = input.toDF().toDF("doc_id", "source", "n_chars", "ts_us")
      .withColumn("n_chars", when(col("source") === "nullsrc",
        lit(null).cast("long")).otherwise(col("n_chars")))
    val q = StreamingAnalytics.qsketchIngestStream(df, k = 4,
        windowLength = "60 minutes")
      .writeStream.format("memory").queryName("qsnull")
      .outputMode("complete").start()
    input.addData((1L, "nullsrc", 10L, T0), (2L, "nullsrc", 20L, T0 + 1000),
      (3L, "ok", 30L, T0 + 2000))
    q.processAllAvailable()
    val rows = spark.table("qsnull").collect()
      .map(r => r.getString(r.fieldIndex("source")) -> r).toMap
    val ns = rows("nullsrc")
    assert(ns.getLong(ns.fieldIndex("n_docs")) == 2L)
    assert(ns.isNullAt(ns.fieldIndex("p50_est")) && ns.isNullAt(ns.fieldIndex("p90_est")))
    assert(ns.getSeq[Long](ns.fieldIndex("sample")).isEmpty)
    val ok = rows("ok")
    assert(ok.getLong(ok.fieldIndex("p50_est")) == 30L)
    q.stop()
  }

  test("streaming materialization upserts by position and keeps delete tombstones") {
    import spark.implicits._
    import StreamingAnalytics.{Chg, Materialized}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Chg]
    val q = StreamingAnalytics.materialize(input.toDS())
      .writeStream.format("memory").queryName("mat")
      .outputMode("update").start()

    def current(): Map[String, Materialized] =
      spark.table("mat").as[Materialized].collect()
        .groupBy(_.row_key).map { case (k, vs) => k -> vs.maxBy(_.last_pos) }

    input.addData(
      Chg("a", "f1:001:0", "create", 1.0),
      Chg("b", "f1:002:0", "create", 2.0))
    q.processAllAvailable()
    assert(current() == Map(
      "a" -> Materialized("a", "f1:001:0", deleted = false, 1.0),
      "b" -> Materialized("b", "f1:002:0", deleted = false, 2.0)))

    // update a, delete b; then an OUT-OF-ORDER stale update of b arrives
    // below the tombstone's position — the tombstone must win
    input.addData(
      Chg("a", "f1:003:0", "update", 1.5),
      Chg("b", "f1:004:0", "delete", 2.0))
    q.processAllAvailable()
    input.addData(Chg("b", "f1:003:5", "update", 9.9))
    q.processAllAvailable()

    val fin = current()
    assert(fin("a") == Materialized("a", "f1:003:0", deleted = false, 1.5))
    assert(fin("b") == Materialized("b", "f1:004:0", deleted = true, 2.0))
    q.stop()
  }

  test("streaming near-dup candidates converge to the batch LSH candidate set") {
    import spark.implicits._
    import graft.data.TextOps
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docsDf = Tables.documents(spark, sfDir).select("doc_id", "text")
    val all = docsDf.as[(Long, String)].collect().sortBy(_._1)

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamingAnalytics.nearDupCandidates(stream)
      .writeStream.format("memory").queryName("nd").outputMode("append").start()
    try {
      // three arrival waves: pairs must accumulate across batches via state
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val got = spark.table("nd").distinct()
        .as[(Long, Long)].collect().toSet
      // the batch path's candidate pairs (band+sig collisions, pre-verify)
      val bands = TextOps.lshBands(TextOps.minhashOf(TextOps.shingles(docsDf)))
      val want = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"))
        .distinct().as[(Long, Long)].collect().toSet
      assert(want.nonEmpty, "degenerate: batch produced no candidate pairs")
      assert(got == want,
        s"streaming/batch diverge: extra=${got -- want} missing=${want -- got}")
    } finally q.stop()
  }

  test("streaming new-vs-base dedup converges to batch d11's candidate set under any wave split") {
    import spark.implicits._
    import graft.data.TextOps
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val baseMaxId = 250L
    val docsDf = Tables.documents(spark, sfDir).select("doc_id", "text")
    // the stored artifact: the BASE corpus's band-signature table, exactly
    // what the batch pipeline persists after each increment
    val baseBands = TextOps.lshBands(TextOps.minhashOf(
      TextOps.shingles(docsDf.filter(col("doc_id") < baseMaxId))))
    val increment = docsDf.filter(col("doc_id") >= baseMaxId)
      .as[(Long, String)].collect().sortBy(_._1)

    // batch reference: d11's pre-verify candidate set with its is_cross flag
    val bands = TextOps.lshBands(TextOps.minhashOf(TextOps.shingles(docsDf)))
    val want = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .filter(col("doc_b") >= baseMaxId).distinct()
      .select(col("doc_a"), col("doc_b"), (col("doc_a") < baseMaxId).as("is_cross"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(want.exists(_._3) && want.exists(!_._3),
      "degenerate: need both cross and internal candidates for a real proof")

    // replay the increment in waves of varying size: the pair set must be
    // split-invariant because each pair emits exactly once, when its later
    // member first arrives
    for (waves <- Seq(1, 3)) {
      val input = MemoryStream[(Long, String)]
      val q = StreamingAnalytics.nearDupCandidatesIncremental(
          input.toDF().toDF("doc_id", "text"), baseBands)
        .writeStream.format("memory").queryName(s"ndinc$waves")
        .outputMode("append").start()
      try {
        increment.grouped((increment.length + waves - 1) / waves).foreach { chunk =>
          input.addData(chunk.toIndexedSeq)
          q.processAllAvailable()
        }
        val got = spark.table(s"ndinc$waves").distinct()
          .as[(Long, Long, Boolean)].collect().toSet
        assert(got == want,
          s"waves=$waves diverged: extra=${got -- want} missing=${want -- got}")
      } finally q.stop()
    }
  }

  test("streaming eval decontamination converges to batch x39 under any wave split") {
    import spark.implicits._
    import graft.data.TextOps
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docsDf = Tables.documents(spark, sfDir).select("doc_id", "text")
    val bench = TextOps.evalBenchmarkWindows(docsDf)
    val training = docsDf.filter(col("doc_id") >= 10)
      .as[(Long, String)].collect().sortBy(_._1)
    val want = TextOps.evalSpanContamination(docsDf)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(want.exists(_._4 > 0) && want.exists(_._4 == 0),
      "degenerate: need both contaminated and clean docs for a real proof")

    for (waves <- Seq(1, 4)) {
      val input = MemoryStream[(Long, String)]
      val q = StreamingAnalytics.evalContaminationStream(
          input.toDF().toDF("doc_id", "text"), bench)
        .writeStream.format("memory").queryName(s"contam$waves")
        .outputMode("append").start()
      try {
        training.grouped((training.length + waves - 1) / waves).foreach { chunk =>
          input.addData(chunk.toIndexedSeq)
          q.processAllAvailable()
        }
        val got = spark.table(s"contam$waves")
          .as[(Long, Long, Long, Long, Double)].collect().toSet
        assert(got == want,
          s"waves=$waves diverged: extra=${got -- want} missing=${want -- got}")
      } finally q.stop()
    }
  }

  test("streaming sessionizer converges to the batch q11 sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // time-ordered arrival in waves: the event stream replayed in binlog
    // order, exactly the deployment shape (watermark 0s tolerates no
    // disorder; CdcReplay delivers in-order the same way)
    val all = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"))
      .as[StreamingAnalytics.Ev].collect().sortBy(_.ts_us)
    val sentinel = -1L
    val flushTs = all.map(_.ts_us).max + 100L * 86400000000L

    val input = MemoryStream[StreamingAnalytics.Ev]
    val q = StreamingAnalytics.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessq11")
      .outputMode("append").start()
    try {
      all.grouped((all.length + 3) / 4).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // two sentinel batches: the first advances the watermark past every
      // open session's lastSeen+gap, the second triggers timeout emission
      input.addData(StreamingAnalytics.Ev(sentinel, flushTs))
      q.processAllAvailable()
      input.addData(StreamingAnalytics.Ev(sentinel, flushTs + 1))
      q.processAllAvailable()

      val got = spark.table("sessq11")
        .filter(col("user_id") =!= sentinel)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
        .as[(Long, Long, Long)].collect().toSet
      val want = graft.data.RelationalQueries
        .queries("q11_user_sessions")(spark, sfDir)
        .as[(Long, Long, Long)].collect().toSet
      assert(want.nonEmpty, "degenerate: batch q11 returned no users")
      assert(got == want,
        s"streaming/batch diverge: extra=${got -- want} missing=${want -- got}")
    } finally q.stop()
  }

  test("streaming transition emitter converges to the batch q36 matrix under any wave split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // time-ordered arrival (the binlog-replay deployment shape), tie-broken
    // on event_id — the SAME total order batch q36's lag window uses, so a
    // wave boundary can never reorder a tie group
    val all = Tables.events(spark, sfDir)
      .select("user_id", "event_type", "ts_us", "event_id")
      .as[StreamingAnalytics.TransEv].collect()
      .sortBy(e => (e.ts_us, e.event_id))
    val input = MemoryStream[StreamingAnalytics.TransEv]
    val q = StreamingAnalytics.eventTransitionsStream(input.toDS())
      .writeStream.format("memory").queryName("transq36")
      .outputMode("append").start()
    try {
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val got = spark.table("transq36")
        .groupBy("prev_type", "next_type")
        .agg(count(lit(1)).as("n_trans"))
        .as[(String, String, Long)].collect().toSet
      val want = graft.data.RelationalQueries
        .queries("q36_event_transitions")(spark, sfDir)
        .select("prev_type", "next_type", "n_trans")
        .as[(String, String, Long)].collect().toSet
      assert(want.nonEmpty, "degenerate: batch q36 returned no transitions")
      assert(got == want,
        s"streaming/batch diverge: extra=${got -- want} missing=${want -- got}")
    } finally q.stop()
  }

  test("streaming funnel tracker converges to the batch q33 rollup under any wave split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val all = Tables.events(spark, sfDir)
      .select("user_id", "event_id", "ts_us", "event_type")
      .as[StreamingAnalytics.FunnelEv].collect().sortBy(e => (e.ts_us, e.event_id))
    val sentinel = -1L
    val flushTs = all.map(_.ts_us).max + 100L * 86400000000L

    val input = MemoryStream[StreamingAnalytics.FunnelEv]
    val q = StreamingAnalytics.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnelq33")
      .outputMode("append").start()
    try {
      // deliberately uneven waves (1/5, then the rest in 3 chunks)
      val chunks = all.splitAt(all.length / 5) match {
        case (w1, rest) => w1 +: rest.grouped((rest.length + 2) / 3).toSeq
      }
      chunks.foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      input.addData(StreamingAnalytics.FunnelEv(sentinel, 0L, flushTs, "view"))
      q.processAllAvailable()
      input.addData(StreamingAnalytics.FunnelEv(sentinel, 1L, flushTs + 1, "view"))
      q.processAllAvailable()

      val got = spark.table("funnelq33")
        .filter(col("user_id") =!= sentinel)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("reached_view"), 1L).otherwise(0L)).as("n_view"),
          sum(when(col("reached_click_after_view"), 1L).otherwise(0L)).as("n_click_after_view"),
          sum(when(col("reached_full_funnel"), 1L).otherwise(0L)).as("n_full_funnel"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val want = graft.data.RelationalQueries
        .queries("q33_session_funnel")(spark, sfDir)
        .select("user_id", "n_sessions", "n_view", "n_click_after_view", "n_full_funnel")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(want.nonEmpty, "degenerate: batch q33 returned no users")
      // sf0.001 has click-after-view sessions but no full funnel — the
      // full-funnel leg is pinned by the synthetic test below
      assert(want.exists(_._4 > 0), "degenerate: no click-after-view anywhere")
      assert(got == want,
        s"streaming/batch diverge: extra=${got -- want} missing=${want -- got}")
    } finally q.stop()
  }

  test("streaming funnel tracker: full funnel, strict ordering, session split across waves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingAnalytics.FunnelEv]
    val q = StreamingAnalytics.funnelStream(input.toDS(), gapUs = min(30))
      .writeStream.format("memory").queryName("funnelsyn")
      .outputMode("append").start()
    try {
      // user 1, session A: view → click → purchase COMPLETED, split
      // across two waves mid-session; session B (after >30min gap):
      // click-before-view then view — click must NOT count (strict order)
      // user 2: purchase-only session — reaches nothing
      input.addData(
        StreamingAnalytics.FunnelEv(1L, 1, T0, "view"),
        StreamingAnalytics.FunnelEv(1L, 2, T0 + min(1), "click"),
        StreamingAnalytics.FunnelEv(2L, 3, T0, "purchase"))
      q.processAllAvailable()
      input.addData(
        StreamingAnalytics.FunnelEv(1L, 4, T0 + min(2), "purchase"), // completes A
        StreamingAnalytics.FunnelEv(1L, 5, T0 + min(60), "click"),   // opens B
        StreamingAnalytics.FunnelEv(1L, 6, T0 + min(61), "view"))
      q.processAllAvailable()
      // flush everything via watermark + timeout
      input.addData(StreamingAnalytics.FunnelEv(-1L, 7, T0 + min(600), "view"))
      q.processAllAvailable()
      input.addData(StreamingAnalytics.FunnelEv(-1L, 8, T0 + min(600) + 1, "view"))
      q.processAllAvailable()

      val got = spark.table("funnelsyn")
        .filter(col("user_id") =!= -1L)
        .select("user_id", "session_start_us", "reached_view",
          "reached_click_after_view", "reached_full_funnel")
        .as[(Long, Long, Boolean, Boolean, Boolean)].collect().toSet
      assert(got == Set(
        (1L, T0, true, true, true),            // the full funnel, split mid-wave
        (1L, T0 + min(60), true, false, false), // click BEFORE view: no credit
        (2L, T0, false, false, false)),         // purchase without view/click
        s"got $got")
    } finally q.stop()
  }

  test("streaming LM admission scores equal batch x48 for in-corpus docs; backoff covers OOV") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, sfDir)
    val (bi, uniB) = graft.data.TextOps.bigramLmModel(corpus)
    val oov = 99L << 20 // a surprisal no real token reaches
    val thr = 5.1

    val want = graft.data.TextOps.bigramSurprisal(corpus)
      .select("doc_id", "n_bigrams", "bits_q")
      .as[(Long, Long, Long)].collect().toSet
    assert(want.nonEmpty)

    val rows = corpus.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val q = StreamingAnalytics.lmQualityAdmissionStream(
        input.toDF().toDF("doc_id", "text"), bi, uniB, oov, thr)
      .writeStream.format("memory").queryName("lmadm").outputMode("append").start()
    try {
      val (w1, w2) = rows.splitAt(rows.size / 3)
      input.addData(w1); q.processAllAvailable()
      input.addData(w2); q.processAllAvailable()
      // synthetic ingest: "qqq" never occurs in the corpus → both its
      // bigrams pay the OOV surprisal; a real pair of corpus tokens that
      // never co-occur would take the b_uni branch, covered implicitly by
      // coalesce order (b is null, b_uni is not)
      input.addData((900000L, "qqq qqq qqq"))
      q.processAllAvailable()

      val out = spark.table("lmadm")
        .select("doc_id", "n_bigrams", "bits_q", "bits_per_bigram", "admitted")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
      val got = out.view.filterKeys(_ != 900000L)
        .map { case (id, (n, b, _, _)) => (id, n, b) }.toSet
      assert(got == want,
        s"stream/batch diverge: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      // every admission flag is the threshold applied to the exact score
      out.values.foreach { case (_, _, bpb, adm) => assert(adm == (bpb <= thr)) }
      // the OOV doc pays oovBits per bigram and is rejected
      val (nO, bO, bpbO, admO) = out(900000L)
      assert(nO == 2 && bO == 2 * oov && bpbO > thr && !admO)
    } finally q.stop()
  }

  test("streaming admission monitor's full-span dots equal batch q32's inner products") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, sfDir).select("user_id", "ts_us")
    val span = ev.agg(org.apache.spark.sql.functions.min("ts_us"),
      org.apache.spark.sql.functions.max("ts_us")).collect()(0)
    val (t0, t1) = (span.getLong(0), span.getLong(1))
    val (sparse, qprof) = graft.data.RelationalQueries.activityProfiles(spark, sfDir)
    // the batch inner products (q32's dot column before top-k ranking)
    val want = sparse.join(qprof, "bucket")
      .filter(col("user_id") =!= col("q_user"))
      .groupBy("user_id", "q_user").agg(sum(expr("q_n * n")).as("dot"))
      .as[(Long, Long, Long)].collect().toSet
    assert(want.nonEmpty, "degenerate: no co-active (user, watch-user) pairs")

    val rows = ev.as[(Long, Long)].collect().sortBy(_._2)
    val input = MemoryStream[(Long, Long)]
    // one window covering the whole span (watch-window = full history),
    // so the finalized dots must equal the batch inner products exactly
    val q = StreamingAnalytics.activityAdmissionStream(
        input.toDF().toDF("user_id", "ts_us"), qprof.collect().toSeq.map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toDF("q_user", "bucket", "q_n"),
        t0Us = t0, spanUs = t1 - t0 + 1, dotThreshold = 5L,
        windowLength = "1051200 minutes", watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("admq32")
      .outputMode("append").start()
    try {
      val (w1, w2) = rows.splitAt(rows.length / 3) // uneven waves
      input.addData(w1.toIndexedSeq); q.processAllAvailable()
      input.addData(w2.toIndexedSeq); q.processAllAvailable()
      // flush: a sentinel far past the window's end closes it (its own
      // bucket is far outside the grid, so it matches no profile row)
      input.addData((-1L, t1 + 200L * 365 * 86400000000L))
      q.processAllAvailable()
      input.addData((-1L, t1 + 200L * 365 * 86400000000L + 1))
      q.processAllAvailable()

      val got = spark.table("admq32")
        .select("user_id", "q_user", "dot")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want,
        s"streaming/batch dots diverge: extra=${(got -- want).take(5)} " +
          s"missing=${(want -- got).take(5)}")
      // the flag is the threshold applied to the exact dot
      val flags = spark.table("admq32").select("dot", "flagged")
        .as[(Long, Boolean)].collect()
      assert(flags.forall { case (d, f) => f == (d >= 5L) })
    } finally q.stop()
  }

  test("cellIngestStream: micro-batched ingest converges to the batch layout writer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cell-ingest").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 4
    val splitId = 150L // base = ids < 150, increment = the rest
    val base = emb.filter(col("vec_id") < splitId)
    val inc = emb.filter(col("vec_id") >= splitId)
      .select("vec_id", "embedding", "label")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq, r.getInt(2)))
      .sortBy(_._1)
    assert(inc.nonEmpty, "increment slice must be non-empty")

    // ship the base layout + its centroid literals (first k vectors,
    // all in the base slice — the writeCellPartitioned discipline)
    graft.data.VectorOps.writeCellPartitioned(base, s"$dir/live", k)
    val cents = graft.data.VectorOps.seedCentroidLiterals(base, k)
    assert(cents.size == k)

    // stream the increment in three uneven micro-batches
    val input = MemoryStream[(Long, Seq[Float], Int)]
    val writer = StreamingAnalytics.cellIngestStream(
      input.toDF().toDF("vec_id", "embedding", "label"), s"$dir/live", cents)
    val q = writer.option("checkpointLocation", s"$dir/ckpt").start()
    try {
      val (w1, rest) = inc.splitAt(inc.length / 4)
      val (w2, w3) = rest.splitAt(rest.length / 2)
      for (w <- Seq(w1, w2, w3)) {
        input.addData(w.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()

    // the batch writer over base + increment — the convergence target
    graft.data.VectorOps.writeCellPartitioned(emb, s"$dir/full", k)
    def rowsOf(p: String): Set[(Long, Long, Long, Seq[Long])] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("cell").cast("long"), col("nn"), col("qv"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3).toSeq))
        .toSet
    val live = rowsOf(s"$dir/live")
    val full = rowsOf(s"$dir/full")
    assert(live == full,
      s"ingested layout diverges from batch rewrite: extra=${(live -- full).take(3)} " +
        s"missing=${(full -- live).take(3)}")

    // idempotence: re-delivering an already-committed batchId is a no-op
    val before = spark.read.parquet(s"$dir/live").count()
    val redo = w1ToDf(spark, inc.take(3))
    graft.data.VectorOps.ingestCellBatch(redo, s"$dir/live", cents, batchId = 0L)
    assert(spark.read.parquet(s"$dir/live").count() == before,
      "marker must short-circuit a re-delivered batch")

    // and the ingested layout serves probes exactly like a batch-written
    // one (partition-pruned read path, ingested vector as the query)
    val probe = graft.data.VectorOps.probeCell(spark, s"$dir/live",
      cents.map(_._1), queryId = splitId)
    assert(probe.count() > 0, "probing the ingested layout must work")

    // MAINTAIN leg: three micro-batch appends + the base write left
    // multiple file sets per cell — compaction must rewrite only the
    // over-threshold cells to one file each, leave compliant cells'
    // files untouched (byte-identical dirs), and preserve the row set
    def filesPerCell(p: String): Map[Long, Seq[String]] = {
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        .map(s => s.getPath.getName.stripPrefix("cell=").toLong ->
          fs.listStatus(s.getPath).toSeq.map(_.getPath.getName)
            .filter(n => !n.startsWith("_") && !n.startsWith(".")).sorted)
        .toMap
    }
    // one extra single-vector append: exactly that vector's cell goes
    // over threshold, every other cell stays compliant (so the test has
    // both a compacted and an untouched population)
    graft.data.VectorOps.ingestCellBatch(
      w1ToDf(spark, inc.take(1)), s"$dir/live", cents, batchId = 99L)
    val preFiles = filesPerCell(s"$dir/live")
    val threshold = preFiles.values.map(_.size).max - 1
    assert(preFiles.values.exists(_.size > threshold) &&
      preFiles.values.exists(_.size <= threshold),
      s"need both over- and under-threshold cells: ${preFiles.view.mapValues(_.size).toMap}")
    val rowsBefore = rowsOf(s"$dir/live")
    val (compacted, fBefore, fAfter) =
      graft.data.VectorOps.compactCellLayout(spark, s"$dir/live", threshold)
    assert(compacted.nonEmpty && fAfter < fBefore,
      s"compaction must shrink the file count ($fBefore -> $fAfter)")
    val postFiles = filesPerCell(s"$dir/live")
    for (c <- compacted) assert(postFiles(c).size == 1,
      s"cell $c still has ${postFiles(c).size} files")
    for ((c, fsBefore) <- preFiles if !compacted.contains(c))
      assert(postFiles(c) == fsBefore, s"untouched cell $c was rewritten")
    assert(rowsOf(s"$dir/live") == rowsBefore,
      "compaction must preserve the row set exactly")
  }

  /** Write `df` as `waves` parquet directories, one per value of its
    * integer `wave` column. */
  private def writeWaves(df: DataFrame, dir: String, waves: Int): Seq[String] =
    (0 until waves).map { w =>
      val d = s"$dir/w$w"
      df.filter(col("wave") === w).drop("wave").coalesce(1).write.parquet(d)
      d
    }

  /** Replay wave directories through `mk` into a checkpointed parquet
    * sink and return every output row, sorted. Each wave's files are
    * staged in a dot-prefixed directory, which the `w*` source glob does
    * not match, and renamed in whole, so each wave is exactly one data
    * micro-batch in every run. With `restartAfter` ≥ 0 the query stops
    * after that wave and a new one starts from the same checkpoint. */
  private def replayWaves(waveDirs: Seq[String], runDir: String,
      restartAfter: Int = -1)(mk: DataFrame => DataFrame): Seq[String] = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val feed = Files.createDirectories(Paths.get(runDir, "feed"))
    val stream = spark.readStream
      .schema(spark.read.parquet(waveDirs.head).schema)
      .parquet(s"$feed/w*")
    def start() = mk(stream).writeStream.format("parquet")
      .option("path", s"$runDir/out")
      .option("checkpointLocation", s"$runDir/ckpt")
      .outputMode("append").start()
    var q = start()
    try waveDirs.zipWithIndex.foreach { case (wd, w) =>
      val stage = Files.createDirectories(feed.resolve(s".stage_w$w"))
      Files.list(Paths.get(wd)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .foreach(f => Files.copy(f, stage.resolve(f.getFileName)))
      Files.move(stage, feed.resolve(s"w$w"), StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      if (w == restartAfter) { q.stop(); q = start() }
    } finally q.stop()
    spark.read.parquet(s"$runDir/out").collect().map(_.toString).sorted.toSeq
  }

  test("keyed-state analytics streams resume from a mid-wave checkpoint row-identical to an uninterrupted run") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-resume").toString
    val sfDir = "/root/testdata/sf0.001"
    val waves = 4
    val waveUs = min(10)
    // event time advances 10 minutes per wave, so each wave closes the
    // previous wave's windows and the watermark state crosses the stop
    val docsDf = Tables.documents(spark, sfDir)
    val docs = docsDf
      .withColumn("wave", pmod(hash(col("doc_id")), lit(waves)))
      .withColumn("ts_us", lit(T0) + col("wave").cast("long") * lit(waveUs) +
        pmod(hash(col("doc_id")), lit(waveUs.toInt)).cast("long"))
    val docWaves = writeWaves(docs, s"$dir/docs", waves)
    // events arrive in time order (the transition stream's contract):
    // wave = time quartile
    val ev = Tables.events(spark, sfDir)
    val Seq(lo, hi) = ev.agg(functions.min("ts_us"), max("ts_us")).collect()(0).toSeq
      .map(_.asInstanceOf[Long])
    val evWaves = writeWaves(
      ev.withColumn("wave", ((col("ts_us") - lit(lo)) * waves / lit(hi - lo + 1)).cast("int")),
      s"$dir/events", waves)

    val benchHashes = graft.data.TextOps.benchmarkShingleHashes(docsDf)
    val weights = graft.data.TextOps.dsirBucketWeightArray(docsDf)
    val chains: Seq[(String, Seq[String], DataFrame => DataFrame)] = Seq(
      ("curation_admission", docWaves, df =>
        StreamingAnalytics.curationAdmissionStream(
          df, benchHashes, weights, budgetTokens = 200L).toDF()),
      ("qsketch_ingest", docWaves, df =>
        StreamingAnalytics.qsketchIngestStream(
          df, k = 8, windowLength = "1 minute", watermarkDelay = "2 minutes")),
      ("phash_keepers", docWaves, df =>
        StreamingAnalytics.phashKeeperStream(df.select("doc_id", "text")).toDF()),
      ("event_transitions", evWaves, df =>
        StreamingAnalytics.eventTransitionsStream(
          df.select("user_id", "event_type", "ts_us", "event_id")
            .as[StreamingAnalytics.TransEv]).toDF()))
    chains.foreach { case (name, waveDirs, mk) =>
      val whole = replayWaves(waveDirs, s"$dir/$name")(mk)
      val resumed = replayWaves(waveDirs, s"$dir/${name}_resumed",
        restartAfter = waves / 2 - 1)(mk)
      assert(whole.nonEmpty, s"$name emitted nothing")
      assert(resumed == whole,
        s"$name: the resumed run diverged (${resumed.size} vs ${whole.size} rows): " +
          s"only-resumed=${resumed.diff(whole).take(3)} only-whole=${whole.diff(resumed).take(3)}")
    }
  }

  private def w1ToDf(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[(Long, Seq[Float], Int)]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }
}
