package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming analytics over the CDC stream: watermarked windowed
  * aggregation (the streaming form of the T37 per-table counters) and a
  * custom-state sessionizer (streaming form of q11_user_sessions).
  *
  * The reference tracks lag/counters with wall-clock timers in a
  * single-threaded loop (parse_replication_stream_internal.py:47-88,
  * simple_binlog_stream_reader_wrapper.py:81-124); with event-time
  * watermarks the same metrics are computed distributed, late-data-safe,
  * and with bounded state — the watermark bounds how long a window or an
  * open session can keep state, which is what makes these runnable
  * indefinitely at 100 TB/day.
  */
object StreamingAnalytics {

  /** Per-table windowed message counts. Append-mode compatible: a window
    * only emits once the watermark passes its end, and state for closed
    * windows is dropped. */
  def windowedCounts(
      cdc: DataFrame,
      windowLength: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame =
    cdc
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"), col("base_table"))
      .agg(count(lit(1)).as("n_messages"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("base_table"), col("n_messages"))

  /** Streaming exact dedup with watermark-bounded state: duplicates
    * arriving within the watermark horizon are dropped; the key state is
    * evicted once the watermark passes, so state size is bounded by the
    * horizon's key cardinality — the indefinitely-runnable form of d1
    * (plain dropDuplicates would grow state forever at 100 TB/day). */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCol: String = "event_id",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCol)

  final case class Chg(row_key: String, pos_key: String, message_type: String,
      payload_value: Double)
  final case class RowState(pos: String, tpe: String, value: Double)
  final case class Materialized(row_key: String, last_pos: String,
      deleted: Boolean, payload_value: Double)

  /** Streaming table materialization — the continuous form of
    * t13b_materialize: per row key, keep the image with the highest
    * position and re-emit it whenever it changes (Update mode). Deletes
    * are retained as tombstones (`deleted = true`) rather than dropped:
    * a late out-of-order change below the tombstone's position must still
    * lose, so the position must stay in state — exactly why Kafka
    * compacted topics keep tombstones around.
    *
    * State per key is O(1) (position + last image); the shuffle is one
    * hash partition by key per micro-batch. Position comparison is the
    * same total per-row order the batch query uses, so replaying any
    * prefix of the changelog through this operator converges to the t13b
    * batch answer. */
  def materialize(changes: Dataset[Chg]): Dataset[Materialized] = {
    val spark = changes.sparkSession
    import spark.implicits._
    def fn(key: String, rows: Iterator[Chg], state: GroupState[RowState]): Materialized = {
      val candidates = state.getOption.iterator ++
        rows.map(r => RowState(r.pos_key, r.message_type, r.payload_value))
      val best = candidates.maxBy(_.pos)
      state.update(best)
      Materialized(key, best.pos, best.tpe == "delete", best.value)
    }
    changes.groupByKey(_.row_key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
  }

  final case class BandSig(bucket: String, doc_id: Long)
  final case class CandPair(doc_a: Long, doc_b: Long)

  /** Streaming near-dup candidate detection — the continuous form of
    * d3's LSH stage, for deduplicating a document firehose as it
    * arrives instead of in nightly batches. Each arriving document
    * computes its 12 minhashes and 4 band signatures PER ROW (a narrow
    * projection — the batch path's explode+groupBy is the scan-efficient
    * formulation, but per-row HOFs give the IDENTICAL signatures, which
    * the equivalence spec asserts), and per band-signature state keeps
    * the doc ids seen so far; a new arrival colliding with them emits
    * candidate pairs incrementally.
    *
    * Pairs are at-least-once across bands (two docs can collide in more
    * than one band — the batch path has the same multiplicity before its
    * .distinct()); the downstream exact-jaccard verifier dedups. State
    * per bucket is the collision-group membership — tiny by LSH design
    * (collision groups ARE the near-dup groups); production adds
    * watermark eviction exactly like [[dedupWithinWatermark]]. */
  /** Per-row band signatures of an arriving document stream — the narrow
    * projection both streaming dedup forms key their state on; bucket
    * encoding (`band#sig`) matches the batch [[graft.data.TextOps.lshBands]]
    * frame so a STORED batch band table can seed streaming state
    * ([[nearDupCandidatesIncremental]]). */
  private def bandSignatures(docs: DataFrame): Dataset[BandSig] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hs = (1 to 12).map(i =>
      expr(s"array_min(transform(shs, sh -> md5(concat('$i:', sh))))").as(s"h$i"))
    val bandSigs = (0 until 4).map { b =>
      val cols = (1 to 3).map(r => s"h${b * 3 + r}").mkString(", ")
      expr(s"md5(concat_ws('|', $cols))")
    }
    docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3) // <3 words: no trigram, same as batch
      .withColumn("shs", expr(
        """array_distinct(transform(sequence(1, size(ws) - 2),
           i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
                          element_at(ws, i + 2))))"""))
      .select((col("doc_id") +: hs): _*)
      .select(col("doc_id"), posexplode(array(bandSigs: _*)).as(Seq("band", "sig")))
      .select(concat_ws("#", col("band"), col("sig")).as("bucket"), col("doc_id"))
      .as[BandSig]
  }

  def nearDupCandidates(docs: DataFrame): Dataset[CandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = bandSignatures(docs)
    def fn(bucket: String, rows: Iterator[BandSig],
        state: GroupState[Seq[Long]]): Iterator[CandPair] = {
      val seen = state.getOption.getOrElse(Seq.empty)
      val fresh = rows.map(_.doc_id).toSeq.distinct.sorted.filterNot(seen.contains)
      var acc = seen
      val out = Seq.newBuilder[CandPair]
      fresh.foreach { d =>
        acc.foreach(a => out += (if (a < d) CandPair(a, d) else CandPair(d, a)))
        acc = acc :+ d
      }
      state.update(acc)
      out.result().iterator
    }
    sigs.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class CrossCandPair(doc_a: Long, doc_b: Long, is_cross: Boolean)
  final case class BucketMembers(base: Seq[Long], seen: Seq[Long])

  /** Streaming NEW-vs-BASE near-dup candidates — d11's continuous form,
    * the shape an operating crawl pipeline actually runs: the existing
    * corpus's band-signature table (the stored artifact d11's batch form
    * names — exactly [[graft.data.TextOps.lshBands]] over the base) loads
    * ONCE as the initial state of the bucket-keyed state store, and each
    * arriving micro-batch emits candidate verdicts against it —
    * `is_cross = true` for a new-doc×base collision (drop the new doc),
    * `false` for new×new (keep one) — without ever revisiting base×base
    * pairs, d11's increment discipline.
    *
    * Scale: the base table shards across the state store by bucket key
    * (one shuffle at load, then each executor holds only its buckets);
    * per-bucket state is the collision-group membership — tiny by LSH
    * design — plus the base members, and each micro-batch's work is
    * O(collisions involving ITS documents). Any wave-split replay of the
    * increment converges to batch d11's candidate set (spec-proven):
    * state accumulation is order-insensitive because pairs emit exactly
    * once, when their later member first arrives. */
  def nearDupCandidatesIncremental(docs: DataFrame,
      baseBands: DataFrame): Dataset[CrossCandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val initState = baseBands
      .select(concat_ws("#", col("band"), col("sig")).as("bucket"), col("doc_id"))
      .groupBy("bucket").agg(sort_array(collect_set("doc_id")).as("base"))
      .as[(String, Seq[Long])]
      .map { case (b, ids) => (b, BucketMembers(ids, Seq.empty)) }
      .groupByKey(_._1).mapValues(_._2)
    def ordered(a: Long, d: Long, cross: Boolean): CrossCandPair =
      if (a < d) CrossCandPair(a, d, cross) else CrossCandPair(d, a, cross)
    def fn(bucket: String, rows: Iterator[BandSig],
        state: GroupState[BucketMembers]): Iterator[CrossCandPair] = {
      val st = state.getOption.getOrElse(BucketMembers(Seq.empty, Seq.empty))
      val known = st.base.toSet ++ st.seen
      val fresh = rows.map(_.doc_id).toSeq.distinct.sorted.filterNot(known)
      var acc = st.seen
      val out = Seq.newBuilder[CrossCandPair]
      fresh.foreach { d =>
        st.base.foreach(a => out += ordered(a, d, cross = true))
        acc.foreach(a => out += ordered(a, d, cross = false))
        acc = acc :+ d
      }
      state.update(BucketMembers(st.base, acc))
      out.result().iterator
    }
    bandSignatures(docs).groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout,
        initState)(fn)
  }

  /** Streaming event-rate anomaly monitor — q34's continuous form: the
    * per-type rate baseline (S = Σn, SS = Σn² over the B training
    * buckets) is batch-trained and ships as a LocalRelation of O(#types)
    * rows; each finalized event-time window's count then flags by q34's
    * cross-multiplied 3σ rule, (B·n − S)² > 9·(B·SS − S²) — exact
    * BIGINTs end to end. The window length must equal the baseline's
    * bucket width for the test to be dimensionally right (the caller
    * owns that contract; the convergence spec constructs it exactly).
    *
    * Shape: one watermarked windowed count (state = types·windows rows)
    * + a post-aggregation static LEFT join against the baseline + a
    * narrow flag projection — append-compatible, indefinitely runnable.
    * An event type ABSENT from training (a brand-new type, arguably the
    * loudest anomaly) gets a zero baseline (s = ss = 0), under which the
    * 3σ rule degenerates to (B·n)² > 0 — any nonzero count flags, which
    * is the right answer for a never-seen type. A window with ZERO
    * events of a type emits nothing here, so the silent-bucket anomaly
    * stays the BATCH audit's job (q34's dense grid); the stream catches
    * spikes as they finalize. */
  def rateAnomalyStream(events: DataFrame, baseline: Map[String, (Long, Long)],
      b: Int = 64, windowLength: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val bl = baseline.toSeq.map { case (t, (s, ss)) => (t, s, ss) }
      .toDF("event_type", "s", "ss")
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .join(bl, Seq("event_type"), "left")
      .withColumn("s", coalesce(col("s"), lit(0L)))
      .withColumn("ss", coalesce(col("ss"), lit(0L)))
      .withColumn("dev2", expr(s"($b * n - s) * ($b * n - s)"))
      .withColumn("thr", expr(s"9 * ($b * ss - s * s)"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n"), col("dev2"), col("thr"),
        (col("dev2") > col("thr")).as("is_anomaly"))
  }

  /** Streaming Count-Min sketch maintenance — x47's continuous form,
    * and the shape CMS was DESIGNED for (it is the canonical streaming
    * frequency sketch): every arriving document's tokens hash into the
    * d×w grid as a narrow projection (the same portable md5 fold as the
    * batch audit), and ONE watermarked windowed aggregation maintains
    * per-(window, row, cell) counters — state is d·w·windows rows
    * regardless of vocabulary or stream length, the whole point of the
    * sketch. A consumer answers "estimate of term t over window W" by
    * probing the d cells of t and taking the min — exactly the batch
    * audit's probe — and merging windows is counter addition (CMS is
    * linear), so coarser horizons need no extra state. Spec: per-cell
    * counters over a replayed corpus equal an independent re-derivation
    * of the batch grid. */
  def cmsIngestStream(docs: DataFrame, depth: Int = 4, width: Int = 64,
      windowLength: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val cellExpr = graft.data.TextOps.hex13NumSpark(
      "md5(concat(CAST(j AS STRING), ':', term))")
    docs
      .select(col("ts_us"), explode(split(col("text"), " ")).as("term"))
      .withColumn("j", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("cell", expr(s"($cellExpr) % $width"))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"), col("j"), col("cell"))
      .agg(count(lit(1)).as("c"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("j"), col("cell"), col("c"))
  }

  /** Streaming per-(window, source) quantile sketch — x49's continuous
    * form ([[graft.data.TextOps.quantileSketchAudit]]): the data-card
    * length-distribution monitor over an arriving document stream,
    * closing the sketch family's streaming legs (KMV ≅ distinct via
    * dedup state, CMS ≅ [[cmsIngestStream]], quantiles ≅ this). The
    * `graft_qsketch` bottom-k buffer IS the streaming aggregation
    * state: Spark's stateful agg restores each group's serialized
    * buffer, merges the micro-batch's partial into it, and stores it
    * back — O(k) state per (window, source) regardless of arrival
    * volume, the same DKW rank-error bound as batch. Because the
    * retained set is a pure order statistic of the per-row md5 hash,
    * arrival order and micro-batch splits CANNOT change it: any replay
    * converges to the batch sketch over the same rows (spec-proven),
    * and merging adjacent windows for a coarser horizon is just sketch
    * merge (bottom-k of a union = bottom-k of bottom-k's). p50/p90
    * estimates are emitted per window; sub-k windows degenerate to the
    * exact order statistic. */
  def qsketchIngestStream(docs: DataFrame, k: Int = 64,
      windowLength: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val hv = graft.data.TextOps.hex13NumSpark(
      "md5(concat(CAST(doc_id AS STRING), ':qs'))")
    docs
      .select(col("ts_us"), col("source"), expr(hv).as("hv"),
        col("n_chars").cast("long").as("v"))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"), col("source"))
      .agg(expr(s"graft_qsketch(hv, v, $k)").as("sample"),
        count(lit(1)).as("n_docs"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("source"), col("n_docs"),
        // the sketch skips null values while count(1) does not, so a
        // window whose rows ALL carry null v yields an EMPTY sample with
        // n_docs > 0 — guard the rank lookup (element_at at index 0
        // throws under ANSI) instead of killing the stream; estimates
        // are NULL for such a window, which is the honest answer
        expr("IF(size(sample) = 0, NULL, " +
          "element_at(sample, CAST(floor((size(sample) + 1) / 2.0) AS INT)))")
          .as("p50_est"),
        expr("IF(size(sample) = 0, NULL, " +
          "element_at(sample, CAST(floor((9 * size(sample) + 9) / 10.0) AS INT)))")
          .as("p90_est"),
        col("sample"))
  }

  final case class PhashRow(bucket: Long, doc_id: Long, phash: Long)
  final case class PhashPair(doc_a: Long, doc_b: Long, hamming: Int)

  /** Streaming perceptual-hash near-dup detection — m6's continuous form
    * ([[graft.data.MultimodalOps.phashNearDup]]): the asset-ingest
    * monitor that flags a re-encoded copy the moment it arrives. Each
    * arriving asset computes its 48-bit aHash (the SAME projection as
    * batch m6, [[graft.data.MultimodalOps.withPhash]]) and registers
    * under 49 probe buckets (identity + every one-bit flip — d7's
    * trick); per-bucket state holds the (doc_id, phash) members seen,
    * and a new arrival pairs against them. Keying state on probe VALUES
    * makes the collision test symmetric, which widens candidates to
    * hamming ≤ 2 (flip-meets-flip), so the emitter re-checks
    * `bit_count(xor) ≤ 1` before emitting — the batch detector's exact
    * pair predicate. Pairs are at-least-once across buckets (identical
    * hashes collide in all 49; the downstream `.distinct()` dedups —
    * the [[nearDupCandidates]] contract); state per bucket is the
    * collision-group membership, tiny by design; production adds
    * watermark eviction exactly like [[dedupWithinWatermark]]. Any
    * wave-split replay converges to the batch m6 pair set (spec-proven):
    * a pair emits when its later member first arrives. */
  def phashNearDupStream(docs: DataFrame): Dataset[PhashPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val probes = graft.data.MultimodalOps.withPhash(docs)
      .withColumn("j", explode(sequence(lit(0), lit(48))))
      .withColumn("bucket", expr(
        "CASE WHEN j = 48 THEN phash ELSE CAST(phash ^ shiftleft(CAST(1 AS BIGINT), j) AS BIGINT) END"))
      .select("bucket", "doc_id", "phash")
      .as[PhashRow]
    def fn(bucket: Long, rows: Iterator[PhashRow],
        state: GroupState[Seq[(Long, Long)]]): Iterator[PhashPair] = {
      val seen = state.getOption.getOrElse(Seq.empty)
      val known = seen.map(_._1).toSet
      val fresh = rows.map(r => (r.doc_id, r.phash)).toSeq
        .distinct.sortBy(_._1).filterNot(r => known(r._1))
      var acc = seen
      val out = Seq.newBuilder[PhashPair]
      fresh.foreach { case (d, h) =>
        acc.foreach { case (a, ah) =>
          val ham = java.lang.Long.bitCount(ah ^ h)
          if (ham <= 1)
            out += (if (a < d) PhashPair(a, d, ham) else PhashPair(d, a, ham))
        }
        acc = acc :+ ((d, h))
      }
      state.update(acc)
      out.result().iterator
    }
    probes.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class PhashProbeRow(bucket: Long, doc_id: Long, phash: Long,
      is_id: Boolean)
  final case class PhashKeeper(doc_id: Long, keeper: Long, is_dup: Boolean)

  /** Streaming perceptual-hash KEEPER assignment — the scale-safe form of
    * [[phashNearDupStream]] (VERDICT r12 #2) and the continuous twin of
    * the batch [[graft.data.MultimodalOps.phashKeepers]] (m8): one output
    * row per arriving asset, `keeper` = the least doc_id within
    * hamming ≤ 1 seen so far (itself when none) — output LINEAR in
    * arrivals no matter how hot the duplicate groups get, where the pair
    * stream's output is quadratic in duplicate multiplicity (9.5M pairs
    * on the 10× rehearsal copy-slice).
    *
    * Mechanics: every asset registers its phash GROUP MINIMUM under its
    * 49 probe buckets (identity + one-bit flips, the d7 trick), so any
    * asset's IDENTITY bucket holds the group minima of its entire
    * hamming ≤ 1 ball among groups seen so far — the identity-bucket row
    * alone decides the keeper (one emission per asset); flip-bucket rows
    * are registration-only. Per-bucket state is a (phash → min doc_id)
    * map with AT MOST 49 entries (only hashes within one bit of the
    * bucket value can register there), so state COLLAPSES under
    * duplicate multiplicity: a thousand-copy asset costs the same one
    * entry per bucket as a singleton — state scales with DISTINCT
    * hashes, the pair stream's member lists scaled with the corpus.
    *
    * Determinism contract (spec-pinned): fed in doc_id order — under any
    * micro-batch split; in-batch rows are sorted by id before folding —
    * the emitted view equals batch m8 exactly: at d's arrival the bucket
    * holds every neighbor group's GLOBAL minimum among ids < d. Under an
    * arbitrary arrival order it degrades gracefully to the admission
    * contract (keeper = earliest-seen ≤1-ball representative, always a
    * real neighbor or self), the d14/semIngestDedup discipline. */
  def phashKeeperStream(docs: DataFrame): Dataset[PhashKeeper] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val probes = graft.data.MultimodalOps.withPhash(docs)
      .withColumn("j", explode(sequence(lit(0), lit(48))))
      .withColumn("bucket", expr(
        "CASE WHEN j = 48 THEN phash ELSE CAST(phash ^ shiftleft(CAST(1 AS BIGINT), j) AS BIGINT) END"))
      .select(col("bucket"), col("doc_id"), col("phash"),
        (col("j") === 48).as("is_id"))
      .as[PhashProbeRow]
    def fn(bucket: Long, rows: Iterator[PhashProbeRow],
        state: GroupState[Map[Long, Long]]): Iterator[PhashKeeper] = {
      var mins = state.getOption.getOrElse(Map.empty[Long, Long])
      val out = Seq.newBuilder[PhashKeeper]
      // id-sorted fold: a same-batch earlier id registers before a later
      // id's identity row reads the map, so batch splits can't change
      // the id-ordered result
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        if (r.is_id) {
          // entries are within one bit of the bucket value by
          // construction, but flip-meets-flip entries sit at hamming 2
          // from r — re-check the exact pair predicate like the batch
          var cand = r.doc_id
          mins.foreach { case (ph, m) =>
            if (java.lang.Long.bitCount(ph ^ r.phash) <= 1 && m < cand)
              cand = m
          }
          out += PhashKeeper(r.doc_id, cand, cand < r.doc_id)
        }
        if (r.doc_id < mins.getOrElse(r.phash, Long.MaxValue))
          mins = mins.updated(r.phash, r.doc_id)
      }
      state.update(mins)
      out.result().iterator
    }
    probes.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class WinRow(doc_id: Long, n_tokens: Long, i: Int,
      h: Option[Long], hit: Boolean)
  final case class ContamReport(doc_id: Long, n_tokens: Long,
      n_contam_tokens: Long, n_hit_windows: Long, contam_frac: Double)

  /** Streaming eval decontamination — x39's continuous form
    * ([[graft.data.TextOps.evalSpanContamination]]): the eval benchmark's
    * window-hash set joins each arriving micro-batch as a STATIC frame
    * (stream-static join — Spark re-reads it per batch, so a republished
    * eval suite picks up without restart), and each document's
    * contamination report emits in the batch it arrives in.
    *
    * Shape: per-row window hashes (narrow projection, the
    * [[bandSignatures]] discipline), one stream-static left join on the
    * hash, then a per-doc rollup via flatMapGroupsWithState — a document
    * is ONE input row, so its group closes within its own micro-batch and
    * the state store stays empty (NoTimeout, nothing updated): the
    * stateful operator exists only to express "aggregate this batch's
    * groups in Append mode", which a watermarkless streaming groupBy
    * cannot. Coverage is computed in-group over the doc's own positions —
    * bounded by document length, never corpus size.
    *
    * Documents shorter than a window carry a null hash (never joins) and
    * report zero hits, exactly like the batch form's zero-window docs. */
  def evalContaminationStream(docs: DataFrame, benchWindowHashes: DataFrame,
      spanWords: Int = 4): Dataset[ContamReport] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wins = docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      // one rolling pass per document (the batch x39's hash), then the
      // per-window explode; a too-short doc still emits its one null-hash
      // row so the report covers it with zero hits
      .withColumn("hs", expr(s"graft_span_hashes(ws, $spanWords)"))
      .withColumn("i", explode(expr(
        s"sequence(1, greatest(size(ws) - ${spanWords - 1}, 1))")))
      .withColumn("h", when(col("n_tokens") >= spanWords, expr("hs[i - 1]")))
      .select("doc_id", "n_tokens", "i", "h")
    val joined = wins
      .join(benchWindowHashes.select(col("h"), lit(true).as("hit")), Seq("h"), "left")
      .select(col("doc_id"), col("n_tokens"), col("i"),
        col("h"), coalesce(col("hit"), lit(false)).as("hit"))
      .as[WinRow]
    def fn(docId: Long, rows: Iterator[WinRow],
        state: GroupState[Long]): Iterator[ContamReport] = {
      val rs = rows.toSeq
      val n = rs.head.n_tokens
      val hits = rs.filter(_.hit)
      val covered = hits.flatMap(r => r.i until r.i + spanWords).toSet
      Iterator.single(ContamReport(docId, n, covered.size.toLong,
        hits.flatMap(_.h).distinct.size.toLong,
        covered.size.toDouble / n))
    }
    joined.groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming Bloom decontamination gate — the scale upgrade past
    * [[curationAdmissionStream]]'s plan-time hash-list literal (r11
    * VERDICT #3): the benchmark ships as a FIXED-SIZE bitmask literal
    * ([[graft.data.TextOps.benchBloomBits]], mBits/64 longs — 128 KB for
    * a 2²⁰-bit filter whether the eval suite has 10² or 10⁶ shingles),
    * and each arriving document probes it DOC-LOCALLY: per distinct
    * trigram shingle, kHash portable positions
    * (hex13(md5(j ':' sh)) mod m — bit-identical to the batch
    * [[graft.data.TextOps.decontaminateBloom]] audit, so the measured FPR
    * there is THIS gate's FPR), flagged iff every position's bit is set.
    * No false negatives by construction — the filter can only over-drop,
    * never admit a truly contaminated doc. Zero joins, zero shuffles,
    * zero state: a narrow projection, append-compatible, composable in
    * front of any admission chain. The probe runs as the NATIVE
    * [[graft.functions.BloomHits]] expression (r12): O(shingles · kHash)
    * md5s per row against O(|bench|) for the exact literal — the trade
    * that wins from ~10³ benchmark shingles up — with none of the
    * interpreted-lambda machinery the original HOF formulation paid
    * (~1 ms/doc → ~0.02 ms/doc measured at the rehearsal points;
    * BloomHitsSpec pins the two forms value-identical). A doc whose id
    * is in the benchmark set flags unconditionally (the
    * [[curationAdmissionStream]] discipline — a sub-3-word bench doc has
    * no shingles to probe). */
  def bloomDecontaminationStream(docs: DataFrame, bloomBits: Seq[Long],
      kHash: Int = 3, benchMaxId: Long = 10): DataFrame = {
    require(bloomBits.nonEmpty, "empty Bloom bitmask")
    val mBits = bloomBits.size * 64
    // the probe runs as the NATIVE expression (r12,
    // [[graft.functions.BloomHits]]): identical math to the SQL
    // higher-order-function form — BloomHitsSpec pins them equal
    // value-for-value on random corpora — minus the interpreted lambda
    // trees and the 13-substring hex13 re-parse per hash, which
    // dominated the gate's per-doc cost (~1 ms/doc at the 10× point)
    // call_function resolves the session-registered expression by name;
    // array(lit…) is a CreateArray of literals — FOLDABLE, which the
    // expression requires so it materializes the filter words once
    val probe = call_function("graft_bloom_hits", col("shs"),
      array(bloomBits.map(w => lit(w)): _*), lit(kHash), lit(mBits))
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("shs", expr(
        """IF(size(ws) < 3, CAST(array() AS ARRAY<STRING>),
           array_distinct(transform(sequence(1, size(ws) - 2),
             i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
                            element_at(ws, i + 2)))))"""))
      .withColumn("n_bloom_hits", probe)
      .select(col("doc_id"),
        expr("CAST(size(shs) AS BIGINT)").as("n_sh"),
        col("n_bloom_hits"),
        (col("doc_id") < benchMaxId || col("n_bloom_hits") > 0)
          .as("is_contaminated"))
  }

  final case class Ev(user_id: Long, ts_us: Long)
  final case class SessionState(startUs: Long, lastUs: Long, nEvents: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Streaming IVF ingest monitor — the continuous form of s10's drift
    * report: batch-train the coarse centroids
    * ([[graft.data.VectorOps.convergedCentroids]]), then watch the ingest
    * stream assign against them, emitting per (event-time window, cell)
    * the arrival count and mean quantization error. A cell whose share or
    * error drifts is the retrain signal, observed CONTINUOUSLY instead of
    * by re-running the batch report.
    *
    * Shape: the centroids are plan-time literals (k×dims longs — same
    * discipline as [[graft.data.VectorOps.bucketExpr]]'s hyperplanes), so
    * assignment is a narrow codegen'd projection: argmin = array_sort
    * over k (dist², c_id) structs — no join, no shuffle, no state. The
    * only stateful operator is ONE watermarked windowed aggregation with
    * k·windows rows of state — append-mode compatible and indefinitely
    * runnable. Distances are exact BIGINT on the 2^20 grid; the mean is
    * one terminal IEEE division. */
  def ivfIngestMonitor(embeddings: DataFrame,
      centroids: Seq[(Long, Seq[Long], Long)],
      windowLength: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val alts = centroids.map { case (cId, cqv, _) =>
      val arr = cqv.mkString(", ")
      val cnn = cqv.map(x => x * x).sum
      s"struct(nn - 2 * graft_dot_long(qv, CAST(array($arr) AS ARRAY<BIGINT>)) + ${cnn}L AS d2, ${cId}L AS c)"
    }.mkString(", ")
    embeddings
      .withColumn("qv", expr("transform(embedding, x -> CAST(floor(x * 1048576e0) AS BIGINT))"))
      .withColumn("nn", expr("graft_dot_long(qv, qv)"))
      .withColumn("best", expr(s"array_sort(array($alts))[0]"))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"), col("best.c").as("cell"))
      .agg(count(lit(1)).as("n"), sum("best.d2").as("s_d2"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("cell"), col("n"),
        expr("CAST(s_d2 AS DOUBLE) / n").as("mean_d2"))
  }

  /** Streaming PQ code-occupancy monitor — the continuous form of s13's
    * codebook-health audit ([[graft.data.VectorOps.pqHealth]]): the
    * trained codebook becomes plan-time literals
    * ([[graft.data.VectorOps.pqCodebookLiterals]], m·nCodes·subDim longs
    * — the [[ivfIngestMonitor]] discipline), so encoding the ingest
    * stream is a narrow codegen'd projection — per sub-space, argmin
    * over the codeword alternatives via array_sort of (d2, c_id) structs
    * (ties to the smallest c_id, exactly s13's min_by order), no join,
    * no shuffle before the ONE watermarked windowed aggregation, whose
    * state is m·nCodes·windows rows. A codeword whose occupancy share
    * collapses (or error grows) ON INGEST is the retrain signal observed
    * continuously. Distances are exact BIGINT; the mean is one terminal
    * IEEE division, so per-window cells equal the batch audit's. */
  def pqIngestMonitor(embeddings: DataFrame,
      codebook: Seq[(Int, Long, Seq[Long])],
      m: Int = 8, subDim: Int = 8,
      windowLength: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val perSub = (0 until m).map { s =>
      val alts = codebook.filter(_._1 == s).sortBy(_._2).map { case (_, cId, csub) =>
        val arr = csub.mkString(", ")
        val cnn = csub.map(x => x * x).sum
        s"struct(sn$s - 2 * graft_dot_long(sub$s, CAST(array($arr) AS ARRAY<BIGINT>)) + ${cnn}L AS d2, ${cId}L AS c)"
      }.mkString(", ")
      s"struct($s AS s, array_sort(array($alts))[0] AS best)"
    }.mkString(", ")
    val sliced = (0 until m).foldLeft(
      embeddings.withColumn("qv",
        expr("transform(embedding, x -> CAST(floor(x * 1048576e0) AS BIGINT))"))) {
      (d, s) =>
        d.withColumn(s"sub$s", expr(s"slice(qv, ${s * subDim + 1}, $subDim)"))
          .withColumn(s"sn$s", expr(s"graft_dot_long(sub$s, sub$s)"))
    }
    sliced
      .withColumn("e", explode(expr(s"array($perSub)")))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"),
        col("e.s").as("s"), col("e.best.c").as("code"))
      .agg(count(lit(1)).as("n"), sum("e.best.d2").as("s_d2"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("s"), col("code"), col("n"),
        expr("CAST(s_d2 AS DOUBLE) / n").as("mean_d2"))
  }

  /** Streaming semantic-dedup ADMISSION — d14's continuous form
    * ([[graft.data.VectorOps.semDedupIncremental]]): an arriving vector
    * is flagged `dup_of_base` iff some KEPT base vector in its assigned
    * cluster is ≥ ε cosine-similar — the admission check an ingest
    * pipeline runs against the stored index before a document enters the
    * corpus. Within-stream prefix dedup is deliberately NOT part of the
    * continuous form: an unbounded stream cannot hold its own history as
    * state, so intra-increment dedup stays the batch increment's job —
    * the same operational split as [[budgetAdmission]] vs x35's batch
    * cap. Because the base-side verdict depends only on the STORED
    * artifact, it is invariant to how the increment is wave-split — the
    * convergence StreamingAnalyticsSpec proves.
    *
    * Shape: ZERO stateful operators. Assignment is the
    * [[ivfIngestMonitor]] centroid-literal projection (no join, no
    * shuffle); the ε-verdict is a stream-static LEFT SEMI / LEFT ANTI
    * join pair against the keeper table on the cluster key with the
    * ε-test inside the join condition — append-mode compatible,
    * indefinitely runnable, and at 100 TB the static side is the stored
    * keeper parquet re-read per micro-batch (Spark's stream-static
    * contract), cluster-key-pruned by the join. */
  def semIngestDedup(embeddings: DataFrame,
      centroids: Seq[(Long, Seq[Long], Long)],
      keepers: DataFrame, eps: Double = 0.35): DataFrame = {
    val alts = centroids.map { case (cId, cqv, _) =>
      val arr = cqv.mkString(", ")
      val cnn = cqv.map(x => x * x).sum
      s"struct(nn - 2 * graft_dot_long(qv, CAST(array($arr) AS ARRAY<BIGINT>)) + ${cnn}L AS d2, ${cId}L AS c)"
    }.mkString(", ")
    val assigned = embeddings
      .withColumn("qv", expr("transform(embedding, x -> CAST(floor(x * 1048576e0) AS BIGINT))"))
      .withColumn("nn", expr("graft_dot_long(qv, qv)"))
      .withColumn("cell", expr(s"array_sort(array($alts))[0].c"))
      .select("vec_id", "qv", "nn", "cell")
    val kp = keepers.select("b_cid", "b_qv", "b_nn")
    val cond = col("cell") === col("b_cid") &&
      expr("CAST(graft_dot_long(qv, b_qv) AS DOUBLE) / " +
        s"sqrt(CAST(nn AS DOUBLE) * CAST(b_nn AS DOUBLE)) >= CAST($eps AS DOUBLE)")
    val dups = assigned.join(kp, cond, "left_semi").withColumn("dup_of_base", lit(true))
    val fresh = assigned.join(kp, cond, "left_anti").withColumn("dup_of_base", lit(false))
    dups.unionByName(fresh).select("vec_id", "cell", "dup_of_base")
  }

  final case class DocTok(doc_id: Long, source: String, n_tokens: Long, ts_us: Long)
  final case class BudgetState(used: Long)
  final case class Admission(doc_id: Long, source: String, n_tokens: Long,
      cum_before: Long, admitted: Boolean)

  /** Streaming per-source token-budget ADMISSION — the continuous
    * counterpart of x35's batch cap. The batch form computes global
    * seeded positions first and then cuts; a stream cannot reorder, so
    * this is the operational admission-controller semantic instead:
    * documents are considered in (event-time, doc_id) order within each
    * micro-batch, a document is admitted iff the source's ADMITTED token
    * count so far is still under budget (x35's exclusive-cumulative
    * rule), and only admitted tokens accumulate — rejected ones must not
    * eat the budget.
    *
    * State is one counter per source (O(#sources) — bounded by the
    * catalog, not the corpus), no timeout needed; emission is per
    * document in Append mode, so the decision is immediately joinable
    * against the ingest for routing. */
  def budgetAdmission(docs: Dataset[DocTok],
      budgetTokens: Long = 4000L): Dataset[Admission] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[DocTok], state: GroupState[BudgetState]) =>
          var used = state.getOption.map(_.used).getOrElse(0L)
          val out = rows.toSeq.sortBy(d => (d.ts_us, d.doc_id)).map { d =>
            val admit = used < budgetTokens
            val rec = Admission(d.doc_id, source, d.n_tokens, used, admit)
            if (admit) used += d.n_tokens
            rec
          }
          state.update(BudgetState(used))
          out.iterator
      }
  }

  /** Custom-state sessionization: sessions close after `gapUs` of event-time
    * silence, enforced two ways — in-batch (gap between consecutive events)
    * and across batches (event-time timeout once the watermark passes
    * lastSeen + gap). State per user is O(1); timeout guarantees it is
    * reclaimed, so total state is bounded by #active users in the gap
    * horizon regardless of stream length. */
  def sessionize(
      events: Dataset[Ev],
      gapUs: Long = 30L * 60 * 1000000): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(userId: Long, rows: Iterator[Ev], state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(SessionOut(userId, s.startUs, s.lastUs, s.nEvents))
      } else {
        val sorted = rows.map(_.ts_us).toArray.sorted
        var cur = state.getOption
        val closed = Seq.newBuilder[SessionOut]
        sorted.foreach { ts =>
          cur match {
            case Some(s) if ts - s.lastUs <= gapUs =>
              cur = Some(SessionState(s.startUs, ts, s.nEvents + 1))
            case Some(s) =>
              closed += SessionOut(userId, s.startUs, s.lastUs, s.nEvents)
              cur = Some(SessionState(ts, ts, 1))
            case None =>
              cur = Some(SessionState(ts, ts, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000) // ms epoch
        }
        closed.result().iterator
      }
    }

    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class TransEv(user_id: Long, event_type: String, ts_us: Long,
      event_id: Long)
  final case class LastEv(ts_us: Long, event_id: Long, event_type: String)
  final case class Transition(user_id: Long, prev_type: String,
      next_type: String, ts_us: Long, event_id: Long)

  /** Streaming first-order transition emission — q36's continuous form.
    * State per user is the LAST event only (O(1) per user, O(#users)
    * total — bounded by the user population, not the stream length); each
    * micro-batch sorts its per-user slice by the same (ts_us, event_id)
    * total order the batch query uses and emits one transition per
    * arrival after the user's first. The state carries exactly the
    * boundary event a batch split would otherwise lose, so on any
    * time-ordered wave split the emitted multiset equals the batch q36
    * pair walk (convergence spec aggregates the emissions and compares
    * counts). Output is LINEAR in arrivals — the matrix roll-up
    * downstream is one keyed streaming count, never a re-walk.
    *
    * Arrival contract, ENFORCED (r13 ADVICE): events must arrive in
    * per-user monotone (ts_us, event_id) order ACROSS micro-batches
    * (within a batch they are sorted here). An event at or before the
    * stored last event is DROPPED — emitting it would invert a
    * transition and rewinding state would diverge every later pair from
    * batch q36. Cross-batch reordering buffers belong upstream (watermark
    * delay + sort, the standard Structured Streaming recipe). */
  def eventTransitionsStream(events: Dataset[TransEv]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[TransEv], state: GroupState[LastEv]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[Transition]
          sorted.foreach { e =>
            // a late straggler is dropped and leaves the state as it was
            if (!last.exists(l => e.ts_us < l.ts_us ||
                (e.ts_us == l.ts_us && e.event_id <= l.event_id))) {
              last.foreach(l => out += Transition(
                userId, l.event_type, e.event_type, e.ts_us, e.event_id))
              last = Some(LastEv(e.ts_us, e.event_id, e.event_type))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  final case class FunnelEv(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String)
  final case class FunnelState(startUs: Long, lastUs: Long,
      tv: Option[Long], tc: Option[Long], tp: Option[Long])
  final case class FunnelSession(user_id: Long, session_start_us: Long,
      session_end_us: Long, reached_view: Boolean,
      reached_click_after_view: Boolean, reached_full_funnel: Boolean)

  /** Streaming ordered-funnel tracker — q33's continuous form: per user
    * session (the q11/[[sessionize]] 30-min-gap rule), did the session
    * reach view, then a click STRICTLY AFTER the first view, then a
    * purchase strictly after that click? The batch form computes each
    * stage as a keyed min + join-back; here the same first-qualifying
    * timestamps fall out of processing a session's events in ascending
    * event time, so the state machine carries only (start, last, tv, tc,
    * tp) — O(1) per user, reclaimed by event-time timeout when the
    * watermark passes the session gap. A closed session emits exactly
    * one row; the per-user rollup (n_sessions, stage counts, fraction)
    * is a trivial downstream batch agg over emitted rows, which is what
    * the convergence spec pins against batch q33.
    *
    * Arrival contract (explicit, r9 ADVICE): events must arrive in
    * PER-USER monotone event time ACROSS micro-batches (within a batch
    * they are sorted here). Batch q33 sorts globally; a state machine
    * cannot re-open stage decisions already taken against a later event,
    * so an event landing in an earlier batch's past can only be treated
    * conservatively: `advance` keeps `lastUs` monotone (max, never a
    * rewind — a late straggler must not re-arm the session-gap clock into
    * the past) and stage firsts stay first-by-ARRIVAL within the batch
    * sort order. Cross-batch reordering buffers belong upstream (a real
    * watermark delay + sort, the standard Structured Streaming recipe);
    * this operator states the contract instead of hiding it. */
  def funnelStream(events: Dataset[FunnelEv],
      gapUs: Long = 30L * 60 * 1000000): Dataset[FunnelSession] = {
    val spark = events.sparkSession
    import spark.implicits._

    def close(userId: Long, s: FunnelState): FunnelSession =
      FunnelSession(userId, s.startUs, s.lastUs,
        s.tv.isDefined, s.tc.isDefined, s.tp.isDefined)
    def advance(s: FunnelState, ts: Long, tpe: String): FunnelState = {
      val tv = if (s.tv.isEmpty && tpe == "view") Some(ts) else s.tv
      // strict ordering: a click at EXACTLY the first view's timestamp
      // does not qualify (batch uses ts > tv), same for purchase
      val tc = if (tv.isDefined && s.tc.isEmpty && tpe == "click" &&
        ts > tv.get) Some(ts) else s.tc
      val tp = if (tc.isDefined && s.tp.isEmpty && tpe == "purchase" &&
        ts > tc.get) Some(ts) else s.tp
      // lastUs is the session-gap clock: monotone under the arrival
      // contract, and a contract-violating late event must never rewind
      // it (that would silently extend the session into the past)
      FunnelState(s.startUs, math.max(s.lastUs, ts), tv, tc, tp)
    }
    def fn(userId: Long, rows: Iterator[FunnelEv],
        state: GroupState[FunnelState]): Iterator[FunnelSession] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(close(userId, s))
      } else {
        // ascending (ts, event_id) — the batch session/stage order
        val sorted = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
        var cur = state.getOption
        val closed = Seq.newBuilder[FunnelSession]
        sorted.foreach { e =>
          cur match {
            case Some(s) if e.ts_us - s.lastUs <= gapUs =>
              cur = Some(advance(s, e.ts_us, e.event_type))
            case Some(s) =>
              closed += close(userId, s)
              cur = Some(advance(
                FunnelState(e.ts_us, e.ts_us, None, None, None),
                e.ts_us, e.event_type))
            case None =>
              cur = Some(advance(
                FunnelState(e.ts_us, e.ts_us, None, None, None),
                e.ts_us, e.event_type))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000) // ms epoch
        }
        closed.result().iterator
      }
    }

    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[FunnelEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class LmScore(doc_id: Long, n_bigrams: Long, bits_q: Long,
      bits_per_bigram: Double, admitted: Boolean)

  /** Streaming LM quality admission — x48's continuous form, the CCNet
    * admission gate run at ingest: each arriving document scores under
    * the STORED interpolated bigram model
    * ([[graft.data.TextOps.bigramLmModel]]) and is admitted iff its
    * bits-per-bigram stays under the perplexity ceiling. Two stream-
    * static LEFT joins supply the backoff chain a live stream forces
    * (training saw every training bigram; ingest will not be so polite):
    * bigram hit → its quantized surprisal; known w2 under an unseen
    * context → the unigram-backoff limit of the same interpolation
    * (p_uni/4); fully unseen token → the caller's OOV surprisal. Per-doc
    * scoring is a flatMapGroups over the doc's exploded bigram rows
    * (document-atomic arrival, the same contract as
    * [[evalContaminationStream]]); no state is carried, so the operator
    * runs indefinitely with state bounded by a micro-batch. Convergence:
    * for documents drawn from the training corpus every bigram hits the
    * model, so stream scores equal batch x48 exactly (spec-pinned). */
  def lmQualityAdmissionStream(docs: DataFrame, bigramModel: DataFrame,
      unigramBackoff: DataFrame, oovBits: Long,
      maxBitsPerBigram: Double): Dataset[LmScore] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val scored = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .withColumn("i", explode(sequence(lit(1), size(col("ws")) - 1)))
      .select(col("doc_id"), expr("ws[i - 1]").as("w1"), expr("ws[i]").as("w2"))
      .join(bigramModel, Seq("w1", "w2"), "left")
      .join(unigramBackoff, Seq("w2"), "left")
      .select(col("doc_id"),
        coalesce(col("b"), col("b_uni"), lit(oovBits)).as("b_eff"))
      .as[(Long, Long)]
    def fn(docId: Long, rows: Iterator[(Long, Long)],
        state: GroupState[Long]): Iterator[LmScore] = {
      val bs = rows.map(_._2).toArray
      val n = bs.length.toLong
      val bitsQ = bs.sum
      val bpb = bitsQ.toDouble / n / 1048576.0
      Iterator.single(LmScore(docId, n, bitsQ, bpb, bpb <= maxBitsPerBigram))
    }
    scored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class DsirAdmission(doc_id: Long, n_bigrams: Long,
      score_q: Long, u_q: Long, admitted: Boolean)

  /** Streaming DSIR importance admission — x50's continuous form: each
    * arriving document scores its hashed bigrams against the STORED
    * O(buckets) weight model ([[graft.data.TextOps.dsirBucketWeights]],
    * the batch training artifact) and is admitted by the same exact
    * integer Bernoulli as batch x50 (u_q · n_bigrams ≤ score_q, both
    * sides on the shared 2²⁰ grid, u from the seeded per-doc md5 order
    * statistic — so the admitted set is reproducible across replays and
    * engines). The weight join is stream-static with `coalesce(w_q, 0)`:
    * zero IS the add-1-smoothing limit for a bucket the training corpus
    * never hit, so out-of-model bigrams score exactly as the model
    * defines, not as a special case. Per-doc scoring is a flatMapGroups
    * over the doc's exploded bigram rows (document-atomic arrival, the
    * [[evalContaminationStream]] contract); no state carries across
    * batches. Convergence: on training-corpus documents every bucket
    * hits the model, so stream admission equals batch
    * [[graft.data.TextOps.importanceResample]] exactly (spec-pinned;
    * docs with < 2 words never score, matching batch reject). */
  def dsirAdmissionStream(docs: DataFrame, bucketWeights: DataFrame,
      seed: String = "graft", buckets: Int = 256): Dataset[DsirAdmission] = {
    graft.data.TextOps.validateSeed(seed) // spliced into SQL text below
    val spark = docs.sparkSession
    import spark.implicits._
    val hv = graft.data.TextOps.hex13NumSpark(
      s"md5(concat('$seed:rs:', CAST(doc_id AS STRING)))")
    val scored = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .withColumn("u_q", expr(
        s"CAST(floor(log2((CAST(($hv) AS DOUBLE) + 1e0)" +
          " / 4503599627370496e0) * 1048576e0) AS BIGINT)"))
      .withColumn("i", explode(sequence(lit(1), size(col("ws")) - 1)))
      .select(col("doc_id"), col("u_q"),
        expr("concat(element_at(ws, i), ' ', element_at(ws, i + 1))").as("bgr"))
      .withColumn("bucket", expr(
        s"${graft.data.TextOps.hex13NumSpark("md5(bgr)")} % $buckets"))
      .join(bucketWeights, Seq("bucket"), "left")
      .select(col("doc_id"), col("u_q"),
        coalesce(col("w_q"), lit(0L)).as("w"))
      .as[(Long, Long, Long)]
    def fn(docId: Long, rows: Iterator[(Long, Long, Long)],
        state: GroupState[Long]): Iterator[DsirAdmission] = {
      val xs = rows.toArray
      val n = xs.length.toLong
      val s = xs.map(_._3).sum
      val u = xs.head._2
      Iterator.single(DsirAdmission(docId, n, s, u, u * n <= s))
    }
    scored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class CurationVerdict(doc_id: Long, source: String,
      ts_us: Long, n_tokens: Long, keep_quality: Boolean,
      is_contaminated: Boolean, dsir_admitted: Boolean,
      budget_used_before: Long, admitted: Boolean)

  /** The COMPOSED streaming curation-admission chain in ONE query —
    * the continuous counterpart of [[graft.data.CurationPipeline]]:
    * quality filter (x16) → benchmark decontamination (x12) → DSIR
    * importance admission (x50) → per-source token-budget admission
    * (x35's operational form). The composition trick: every per-doc gate
    * is computed DOCUMENT-LOCALLY against plan-time literals (the
    * cellIngestStream centroid discipline) — shingle hashes vs the
    * literal benchmark hash list, bigram buckets vs the literal weight
    * array, the seeded acceptance variate from the doc id — so the whole
    * chain up to the budget is one narrow codegen'd projection with NO
    * join and NO shuffle, and the query's single stateful operator is
    * the O(#sources) budget counter (Spark allows one
    * flatMapGroupsWithState per query; this shape never needs more).
    *
    * Semantics per stage match the batch chain exactly (spec-pinned
    * flag-for-flag against the batch x16/x12/x50 frames); the budget leg
    * is [[budgetAdmission]]'s documented operational rule — (event-time,
    * doc_id) order within a micro-batch, only ADMITTED tokens consume,
    * and docs failing an upstream gate never touch the budget. Exact
    * dedup is deliberately NOT in this query: within-stream dedup wants
    * its own state; the deployment composes [[semIngestDedup]]'s
    * stream-static discipline (reject what the reconciled base already
    * keeps) upstream, exactly as documented there.
    *
    * Emits one verdict row per arriving document (audit columns per
    * stage, x16's audit style), so rejected docs are routable, not
    * silently dropped. */
  def curationAdmissionStream(docs: DataFrame,
      benchShingleHashes: Seq[Long], bucketWeights: Seq[Long],
      budgetTokens: Long, seed: String = "graft",
      benchMaxId: Long = 10): Dataset[CurationVerdict] = {
    graft.data.TextOps.validateSeed(seed) // spliced into SQL text below
    val spark = docs.sparkSession
    import spark.implicits._
    val buckets = bucketWeights.size
    val uExpr = graft.data.TextOps.hex13NumSpark(
      s"md5(concat('$seed:rs:', CAST(doc_id AS STRING)))")
    val scored = docs
      .withColumn("ws", split(col("text"), " "))
      // ---- x16 quality flags (same text as TextOps.filterFlags)
      .withColumn("n_words", expr("CAST(size(ws) AS BIGINT)"))
      .withColumn("n_distinct", expr("CAST(size(array_distinct(ws)) AS BIGINT)"))
      .withColumn("n_stop",
        expr(graft.data.TextOps.stopwordCountFragment).cast("long"))
      .withColumn("keep_quality", expr(
        "NOT (n_words < 20 OR n_words > 88 OR n_stop = 0" +
          " OR n_distinct * 100 < n_words * 35)"))
      // ---- x12 contamination: doc-local distinct-free overlap test —
      // ANY shared shingle contaminates, duplicates don't change ANY.
      // A doc whose id IS in the benchmark set flags unconditionally
      // (ADVICE r11): the batch chain drops all bench docs by id, and a
      // sub-3-word bench doc has sh_h = [], so without the id test it
      // would slip into training through its own benchmark's gate.
      .withColumn("sh_h", expr(
        "IF(size(ws) < 3, array(), transform(sequence(1, size(ws) - 2)," +
          " i -> xxhash64(concat_ws(' ', element_at(ws, i)," +
          " element_at(ws, i + 1), element_at(ws, i + 2)))))"))
      .withColumn("is_contaminated",
        col("doc_id") < benchMaxId ||
          arrays_overlap(col("sh_h"), typedLit(benchShingleHashes)))
      // ---- x50 DSIR admission against the literal weight array
      .withColumn("bks", expr(
        "IF(size(ws) < 2, array(), transform(" +
          "transform(sequence(1, size(ws) - 1)," +
          " i -> md5(concat(element_at(ws, i), ' ', element_at(ws, i + 1))))," +
          s" h -> ${graft.data.TextOps.hex13NumSpark("h")} % $buckets))"))
      .withColumn("__w", typedLit(bucketWeights))
      .withColumn("score_q", expr(
        "aggregate(bks, CAST(0 AS BIGINT)," +
          " (acc, b) -> acc + element_at(__w, CAST(b + 1 AS INT)))"))
      .withColumn("n_bigrams", expr("CAST(size(bks) AS BIGINT)"))
      .withColumn("u_q", expr(
        s"CAST(floor(log2((CAST(($uExpr) AS DOUBLE) + 1e0)" +
          " / 4503599627370496e0) * 1048576e0) AS BIGINT)"))
      .withColumn("dsir_admitted", expr(
        "n_bigrams > 0 AND u_q * n_bigrams <= score_q"))
      // ---- x3 BPE-ish token count (same text as TextOps.tokenCount)
      .withColumn("n_tokens", expr(
        "aggregate(transform(ws, w -> CAST(floor((length(w) + 3) / 4.0)" +
          " AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .select(col("doc_id"), col("source"), col("ts_us"), col("n_tokens"),
        col("keep_quality"), col("is_contaminated"), col("dsir_admitted"))
      .as[(Long, String, Long, Long, Boolean, Boolean, Boolean)]
    def fn(source: String,
        rows: Iterator[(Long, String, Long, Long, Boolean, Boolean, Boolean)],
        state: GroupState[BudgetState]): Iterator[CurationVerdict] = {
      var used = state.getOption.map(_.used).getOrElse(0L)
      val out = rows.toSeq.sortBy(d => (d._3, d._1)).map {
        case (id, src, ts, tok, q, cont, dsir) =>
          val pre = q && !cont && dsir
          val admit = pre && used < budgetTokens
          val rec = CurationVerdict(id, src, ts, tok, q, cont, dsir, used, admit)
          if (admit) used += tok
          rec
      }
      state.update(BudgetState(used))
      out.iterator
    }
    scored.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming leg of the ANN index lifecycle's MIGRATE step — continuous
    * ingest INTO a [[graft.data.VectorOps.writeCellPartitioned]] layout
    * (r9 VERDICT #3): s17 decides WHEN to retrain,
    * [[graft.data.VectorOps.migrateCellLayout]] moves the layout to new
    * centroids incrementally, and this operator is the third leg — new
    * vectors arriving between retrains route straight into their cell
    * directories under the SHIPPED centroids, so the layout never goes
    * stale waiting for a nightly batch. Each micro-batch quantizes,
    * argmin-assigns against the O(k) centroid literals (the exact
    * integer discipline of every batch writer), and dynamic-partition-
    * APPENDS only the touched cells — d14's admission discipline applied
    * to storage: an ingest never rewrites base data, and a pure-ingest
    * migration (trainOn = base) over the result is a no-op by
    * construction.
    *
    * Convergence (spec-pinned): any micro-batch split of an increment
    * produces a layout row-identical to the batch writer over
    * base + increment, because assignment is a pure per-row function of
    * (vector, centroid literals) — batching cannot change it. Restart
    * safety: per-batch marker commit, see
    * [[graft.data.VectorOps.ingestCellBatch]]. State is ZERO (stateless
    * stream); the centroid literals are plan-time constants, never a
    * corpus join. */
  def cellIngestStream(vectors: DataFrame, path: String,
      centroids: Seq[(Long, Seq[Long])]):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.data.VectorOps.ingestCellBatch(batch, path, centroids, batchId)
      }

  /** Streaming sparse-similarity ADMISSION monitor — q32's continuous
    * form: as events arrive, score each active user's windowed activity
    * against a STORED set of query-user profiles (q32's sparse
    * (q_user, bucket, q_n) frame — at deployment, the batch artifact of
    * the users being watched) and flag windows whose inner product
    * crosses the admission threshold (correlated-activity detection: a
    * new account moving like a watched one).
    *
    * The trick that keeps this ONE stateful operator: an event of user u
    * in bucket β contributes exactly q_n[β] to dot(u, q) — so the dot is
    * a windowed SUM over the stream-static join of events against the
    * profile table, never a profile-vs-profile join. State is the
    * windowed agg's (windows × users × matched watch-users) rows, bounded
    * by the watermark; the profile table is static and joins stateless.
    * The bucket grid (t0, span, B) is fixed configuration at deployment —
    * the batch q32 derives it from the data, so the convergence spec
    * passes the batch corpus's own span. Over a window covering the whole
    * span, dot(u, q) equals batch q32's dot exactly (the spec's pin). */
  def activityAdmissionStream(events: DataFrame, queryProfiles: DataFrame,
      t0Us: Long, spanUs: Long, b: Int = 64, dotThreshold: Long = 0L,
      windowLength: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withColumn("bucket", expr(s"((ts_us - ${t0Us}L) * $b) div ${spanUs}L"))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .join(queryProfiles, Seq("bucket")) // stream-static: stateless
      .filter(col("user_id") =!= col("q_user"))
      .groupBy(window(col("ts"), windowLength).as("w"),
        col("user_id"), col("q_user"))
      .agg(sum("q_n").as("dot"), count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("user_id"), col("q_user"), col("dot"), col("n_events"),
        (col("dot") >= dotThreshold).as("flagged"))
}
