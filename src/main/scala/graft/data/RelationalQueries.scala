package graft.data

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational analytics over the TPC-H-ish tables — the aggregation / join
  * / window / top-k surface of the engine, written plan-first:
  *
  *  - filters and projections sit directly on the scan (parquet pushdown,
  *    `PushedFilters` visible in explain),
  *  - join-side sizing is left to AQE for every SF-scaled relation
  *    (orders/customer/part/supplier grow linearly with the corpus — a
  *    hard `broadcast()` hint on them is a driver OOM at cluster scale);
  *    explicit `broadcast()` appears ONLY on truly fixed-cardinality
  *    frames: nation/region (25/5 rows at every SF) and 1-row scalar
  *    aggregates. At small SF AQE promotes the measured-small sides to
  *    broadcast joins anyway, so local plans are unchanged,
  *  - money math is engine-rounding-proof: raw doubles are quantized to
  *    integer units per row (`floor(x*100 + 0.5)` — IEEE double ops are
  *    bit-deterministic across engines), summed as BIGINT (exact and
  *    order-independent), and scaled back once at the end with a single
  *    `CAST(sum AS DOUBLE) / 10^k` (an integer < 2^53 divided by a power
  *    of ten is correctly rounded identically in every IEEE engine). This
  *    removes the per-row double→DECIMAL cast whose half-up/half-even tie
  *    behavior differs between engine versions. DECIMAL stays in use for
  *    the small/filtered aggregates where it already hash-matches.
  *    At extreme scale (≳10^12 rows) the BIGINT accumulator would need a
  *    DECIMAL(38,0) upgrade; unit sums here peak ~10^17, well in range.
  *  - windows partition by high-cardinality keys (supplier), never
  *    unpartitioned.
  */
object RelationalQueries {

  private def t(fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame = fn

  /** Per-side block cap for q32's blocked pair join: ≤4096 rows per side
    * per task caps per-task pair work at 4096² ≈ 16.7M pair dots (each a
    * 64-long native multiply-add loop ≈ 1 s of codegen work — a
    * right-sized task). The grid itself is sized by
    * [[SkewOps.pairGrid]] from measured row counts, so the bound holds at
    * ANY pair volume: a sub-budget problem is ONE task by design (the
    * grid bounds task size, it does not manufacture parallelism for
    * sub-second work), and tasks grow as pairVol/budget past it. */
  private[graft] val SkewBlockRows = 4096

  /** q32's (candidate, query) sparse activity-profile frames — the
    * shared build of [[activityVectors]] (dense form), q32b's postings
    * (candidate generation needs per-bucket rows), and the streaming
    * admission twin's watched-profile artifact. */
  private[graft] def activityProfiles(spark: SparkSession, dir: String):
      (DataFrame, DataFrame) = {
    val ev = Tables.events(spark, dir).select("user_id", "ts_us")
    // norms, query side and candidate side (and repeated bench
    // invocations) share the bucketed profile frame — session memo, not a
    // per-invocation persist that would linger unreleased (r8 ADVICE)
    val sparse = SharedFrames.memoPersisted(ev, "q32-sparse-b64") {
      val sp = ev.agg(min("ts_us").as("t0"), max("ts_us").as("t1"))
      ev.crossJoin(broadcast(sp))
        .withColumn("bucket", expr("((ts_us - t0) * 64) div (t1 - t0 + 1)"))
        .groupBy("user_id", "bucket").agg(count(lit(1)).as("n"))
    }
    val q = sparse.filter(col("user_id") % 5 === 0)
      .select(col("user_id").as("q_user"), col("bucket"), col("n").as("q_n"))
    (sparse, q)
  }

  /** q32's DENSE activity vectors: (user_id, v: ARRAY<BIGINT>[64], nn).
    *
    * B = 64 is fixed configuration and measured occupancy is ~41/64
    * buckets per user — the profiles are bounded, near-dense vectors, not
    * sparse ones. The r9 SpGEMM bucket-join formulation optimized a
    * sparse regime this data is not in: it shuffled one row per SHARED
    * BUCKET of every pair (~41× the pair count even after map-side
    * collapse of the grid form), where the dense form pairs each (query,
    * candidate) exactly ONCE and computes the dot in the same native
    * codegen'd multiply-add loop the ANN family runs on
    * ([[graft.functions.LongDotProduct]]). Building the vectors is one
    * keyed agg over the sparse frame (64-entry map → fixed array);
    * everything stays exact BIGINT. */
  private[graft] def denseFromSparse(sparse: DataFrame): DataFrame =
    SharedFrames.memoPersisted(sparse, "q32-dense-b64") {
      sparse.groupBy("user_id")
        .agg(map_from_entries(collect_list(struct(col("bucket"), col("n")))).as("m"))
        .withColumn("v", expr(
          "transform(sequence(0, 63), i -> coalesce(element_at(m, CAST(i AS BIGINT)), CAST(0 AS BIGINT)))"))
        .withColumn("nn", expr("graft_dot_long(v, v)"))
        .select("user_id", "v", "nn")
    }

  private[graft] def activityVectors(spark: SparkSession, dir: String): DataFrame =
    denseFromSparse(activityProfiles(spark, dir)._1)

  /** q32 body — time-series similarity search (the EDBT/ICDE
    * streaming-similarity family): top-3 cosine neighbors of every query
    * user's activity profile, EXACT over all pairs.
    *
    * Plan (r10): brute-force over the [[activityVectors]] dense frame —
    * the s1_ann_brute shape — distributed through
    * [[SkewOps.pairBlockJoin]] on a constant key (a blocked cross join):
    * every (candidate, query) pair meets in exactly one task, per-task
    * pair work is capped at `rowsPerBlock²` dots by a
    * [[SkewOps.pairGrid]]-sized grid driven by the two MEASURED row
    * counts (control-plane counts, memoized), and the dot is one native
    * codegen'd 64-long multiply-add. Replication volume is
    * |users|·P + |queries|·F rows of ~0.5 KB arrays — sublinear in pair
    * volume — versus the r9 sparse bucket join's per-shared-bucket
    * shuffle (1.2 B rows at the 10× events point for 45 M pairs). The
    * exact-pair cost that remains IS the query's semantics; the lever
    * that cuts it is thresholded candidate pruning, q32b.
    *
    * Exact: bucket arithmetic, vectors and dots are BIGINT; cosine is one
    * IEEE division; ties rank deterministically by (cos DESC, user_id). */
  private[graft] def activitySimilarity(spark: SparkSession, dir: String,
                                        rowsPerBlock: Int): DataFrame = {
    val dense = activityVectors(spark, dir)
    val qd = dense.filter(col("user_id") % 5 === 0)
      .select(col("user_id").as("q_user"), col("v").as("q_v"), col("nn").as("q_nn"))
    val (nAll, nQ) = SharedFrames.memoValue(dense, "q32-row-counts") {
      (dense.count(), dense.filter(col("user_id") % 5 === 0).count())
    }
    val budget = rowsPerBlock.toLong * rowsPerBlock
    val (fB, pB) = SkewOps.pairGrid(nAll.toDouble * nQ, nAll, nQ, budget)
    val pairs = SkewOps.pairBlockJoin(
      dense.withColumn("__pk", lit(0)), qd.withColumn("__pk", lit(0)),
      "__pk", "user_id", "q_user", fB, pB).drop("__pk")
    // top-3 via the BOUNDED aggregate, not a row_number window: a window
    // pre-filter would shuffle EVERY scored pair into its sort (4.5G rows
    // at the 100× events point — the run-killer shape); the aggregate's
    // map-side partials reduce each grid task to ≤3 rows per query it
    // touched, so the shuffle is O(3 · queries · factBlocks) no matter
    // the pair volume. Same (cos DESC, user_id) tie rule — row-identical
    // to the window form (oracle-pinned at both SFs).
    pairs
      .filter(col("user_id") =!= col("q_user"))
      .withColumn("dot", expr("graft_dot_long(q_v, v)"))
      // dot > 0 keeps the pair universe identical to the oracle's
      // shared-bucket join: the dense scan otherwise scores zero-overlap
      // pairs (cos = 0) the sparse formulation never produces, and a
      // query with < 3 positive-dot neighbors would rank cos=0 filler
      // rows the oracle lacks (r10 ADVICE — unreachable on the bench
      // corpora at ~41/64 occupancy, latent on sparse/tiny data).
      .filter(col("dot") > 0)
      .withColumn("cos", expr(
        "CAST(dot AS DOUBLE) / sqrt(CAST(q_nn AS DOUBLE) * CAST(nn AS DOUBLE))"))
      .groupBy("q_user")
      .agg(expr("graft_topk_pairs(cos, user_id, dot, 3)").as("top"))
      .select(col("q_user"), posexplode(col("top")))
      .select(col("q_user"), col("col.id").as("sim_user"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("col.payload").as("dot"), col("col.score").as("cos"))
      .orderBy("q_user", "rnk")
  }

  /** q32b numerator/denominator of the range threshold τ = NUM/DEN = 0.70
    * — one place, so the Spark plan, the prune proof and the oracle SQL
    * can never drift apart. */
  private[graft] val RangeTauNum = 7L
  private[graft] val RangeTauDen = 10L

  /** q32b — THRESHOLDED activity similarity (s16's range semantics on
    * q32's profiles): every (query, candidate) pair with
    * cos(q, c) ≥ τ = 0.70, exact.
    *
    * This is the candidate-pruning lever the r9 verdict prescribed: the
    * all-pairs cost in [[activitySimilarity]] is inherent to top-k
    * semantics, but under a RANGE threshold pairs can be excluded before
    * any pair work via PREFIX FILTERING on the heaviest buckets (Bayardo,
    * Ma & Srikant, "Scaling Up All Pairs Similarity Search", WWW'07 —
    * re-derived here for integer count profiles):
    *
    *  - order the 64 buckets by GLOBAL rarity (ascending contributor
    *    count — the heaviest buckets sort LAST);
    *  - a candidate user indexes only the PREFIX of its buckets in that
    *    order whose running suffix still carries ≥ τ² of its squared
    *    norm: position i is indexed iff ssq(≥i)·DEN² ≥ NUM²·nn (exact
    *    integer test). The dropped suffix S then has |c_S| < τ·|c|;
    *  - soundness: if a pair (q, c) shares ONLY dropped buckets of c,
    *    then dot(q,c) = Σ_{b∈S∩q} c_b·q_b ≤ |c_S|·|q| < τ·|c|·|q|
    *    (Cauchy–Schwarz), so cos < τ — every qualifying pair shares at
    *    least one INDEXED bucket of the candidate. Recall is 1.0 by
    *    construction (and re-checked empirically by the oracle at both
    *    SFs: 0 missed of 17 / 1,273 qualifying pairs).
    *
    * Candidate generation joins the indexed postings (the rare half:
    * measured 6.2M vs 12.1M full incidences at sf0.1, ~21.5 of 41
    * buckets indexed per user) against the query users' full postings;
    * rescoring then runs ONLY over distinct candidate pairs on the dense
    * vectors — pair-proportional native dots, never incidence-
    * proportional — and applies the threshold as an exact integer
    * comparison: cos ≥ τ ⇔ dot²·DEN² ≥ NUM²·nn_q·nn_c (dot ≥ 0 — counts
    * are non-negative — so squaring preserves the inequality). The
    * DECIMAL(38,0) products are exact while dot² · 100 < 10³⁸, i.e. any
    * per-user-per-bucket event count below ~2·10¹²; the DuckDB oracle
    * mirrors the same test in HUGEINT.
    *
    * Pruning power is DISTRIBUTION-dependent: on this near-uniform
    * synthetic corpus the incidence volume halves but distinct candidate
    * pairs stay ≈ all pairs (every pair shares some rare bucket), so the
    * rescore dominates; on time-phased activity data (users active in
    * narrow windows) rare-bucket postings shrink BOTH. q32b therefore
    * SELECTS its plan from a measured comparison ([[rangeSelector]]):
    * prefix-filtered candidate generation + pair-proportional rescore
    * when the indexed incidence stream is smaller than the all-pairs
    * stream, q32's blocked dense scan with the threshold otherwise —
    * both exact, row-identical (spec-pinned on phased data where the
    * pruned plan engages AND on this corpus where the dense plan wins).
    *
    * The doc above describes the PRUNED plan ([[rangePruned]]); the
    * dense plan is [[rangeDense]]; [[activityRangeOn]] is the selector
    * entry. */
  /** The prefix-filter INDEX of a sparse profile frame: the postings a
    * candidate keeps for generation — its buckets in global-rarity order
    * until the running suffix drops below τ² of its squared norm (exact
    * integer test; see [[activityRange]]'s soundness proof). The rarity
    * rank window is bounded at B = 64 rows by construction (the bounded-
    * frame class, like the limit(k) ranking windows); the suffix-sum
    * window is keyed by user — high-cardinality at scale. Memoized: the
    * selector's incidence estimate and the pruned path both read it. */
  private[graft] def indexedPostings(sparse: DataFrame): DataFrame =
    SharedFrames.memoPersisted(sparse, "q32b-indexed-postings") {
      val n2 = RangeTauNum * RangeTauNum
      val d2 = RangeTauDen * RangeTauDen
      val rank = sparse.groupBy("bucket").agg(count(lit(1)).as("cf"))
        .withColumn("brk", row_number().over(
          Window.orderBy(col("cf").asc, col("bucket").asc)))
        .select("bucket", "brk")
      val nn = sparse.groupBy("user_id").agg(sum(expr("n * n")).as("nn"))
      sparse.join(rank, "bucket")
        .withColumn("ssq", sum(expr("n * n")).over(
          Window.partitionBy("user_id").orderBy(col("brk").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(nn, "user_id")
        .filter(expr(s"ssq * $d2 >= $n2 * nn"))
        .select("user_id", "bucket")
    }

  /** q32b's exact integer threshold + output projection, shared by both
    * plans so they cannot drift. */
  private def rangeThreshold(pairs: DataFrame): DataFrame = {
    val n2 = RangeTauNum * RangeTauNum
    val d2 = RangeTauDen * RangeTauDen
    pairs
      .withColumn("dot", expr("graft_dot_long(q_v, v)"))
      .filter(expr(
        s"CAST(dot AS DECIMAL(38,0)) * dot * $d2 >= CAST(q_nn AS DECIMAL(38,0)) * nn * $n2"))
      .withColumn("cos", expr(
        "CAST(dot AS DOUBLE) / sqrt(CAST(q_nn AS DOUBLE) * CAST(nn AS DOUBLE))"))
      .select(col("q_user"), col("user_id").as("sim_user"), col("dot"), col("cos"))
      .orderBy("q_user", "sim_user")
  }

  private def rangeQuerySide(dense: DataFrame): DataFrame =
    dense.filter(col("user_id") % 5 === 0)
      .select(col("user_id").as("q_user"), col("v").as("q_v"), col("nn").as("q_nn"))

  /** q32b, PRUNED plan: prefix-filtered candidate generation (indexed
    * postings × query postings → distinct pairs), then a pair-
    * proportional exact rescore on the dense vectors. */
  private[graft] def rangePruned(sparse: DataFrame, dense: DataFrame): DataFrame = {
    val idx = indexedPostings(sparse)
    val qPost = sparse.filter(col("user_id") % 5 === 0)
      .select(col("user_id").as("q_user"), col("bucket"))
    val cand = idx.join(qPost, "bucket")
      .filter(col("user_id") =!= col("q_user"))
      .select("q_user", "user_id").distinct()
    rangeThreshold(cand.join(rangeQuerySide(dense), "q_user").join(dense, "user_id"))
  }

  /** q32b, DENSE plan: q32's blocked all-pairs scan with the threshold in
    * place of the top-k rank — pairs sharing no indexed bucket cost one
    * native dot instead of a candidate join. */
  private[graft] def rangeDense(sparse: DataFrame, dense: DataFrame): DataFrame = {
    val qd = rangeQuerySide(dense)
    val (nAll, nQ) = SharedFrames.memoValue(dense, "q32-row-counts") {
      (dense.count(), dense.filter(col("user_id") % 5 === 0).count())
    }
    val budget = SkewBlockRows.toLong * SkewBlockRows
    val (fB, pB) = SkewOps.pairGrid(nAll.toDouble * nQ, nAll, nQ, budget)
    val pairs = SkewOps.pairBlockJoin(
      dense.withColumn("__pk", lit(0)), qd.withColumn("__pk", lit(0)),
      "__pk", "user_id", "q_user", fB, pB).drop("__pk")
    rangeThreshold(pairs.filter(col("user_id") =!= col("q_user")))
  }

  /** q32b's measured plan selector: (prefix-filtered candidate-generation
    * incidences, total query×candidate pairs). The pruned plan's floor
    * cost is the incidence stream it must join and distinct; the dense
    * plan's floor cost is one native dot per pair — so pruned wins only
    * when idxInc < allPairs. Both sides are control-plane aggs (64-row
    * bucket-count joins + two counts) over memoized frames, the same
    * class as pairGrid's inputs. */
  private[graft] def rangeSelector(sparse: DataFrame, dense: DataFrame): (Long, Long) =
    SharedFrames.memoValue(sparse, "q32b-selector") {
      val qCnt = sparse.filter(col("user_id") % 5 === 0)
        .groupBy("bucket").agg(count(lit(1)).as("cq"))
      val idxInc = indexedPostings(sparse)
        .groupBy("bucket").agg(count(lit(1)).as("ci"))
        .join(qCnt, "bucket")
        .agg(sum(expr("ci * cq"))).collect()(0).getLong(0)
      val (nAll, nQ) = SharedFrames.memoValue(dense, "q32-row-counts") {
        (dense.count(), dense.filter(col("user_id") % 5 === 0).count())
      }
      (idxInc, nAll * nQ)
    }

  /** q32b over explicit profile frames — the selector picks the plan,
    * both EXACT and row-identical (spec-pinned on phased data where the
    * pruned plan engages and on this corpus where the dense plan wins). */
  private[graft] def activityRangeOn(sparse: DataFrame): DataFrame = {
    val dense = denseFromSparse(sparse)
    // Overflow guard (r10 ADVICE): the exact integer threshold multiplies
    // DECIMAL(38,0) values; past the documented bound the product
    // overflows to NULL under non-ANSI decimal semantics and the filter
    // silently DROPS qualifying rows. max(nn) < 10^18 guarantees both
    // products stay exact — dot² ≤ nn_q·nn_c (Cauchy–Schwarz), so
    // dot²·100 ≤ nn_q·nn_c·100 < 10^38 — making overflow a loud
    // control-plane failure instead of a silent wrong answer. One O(1)
    // agg over the memoized dense frame, shared by both plans.
    val maxNN = SharedFrames.memoValue(dense, "q32b-overflow-guard") {
      dense.agg(max("nn")).collect()(0).getLong(0)
    }
    require(maxNN < 1000000000000000000L,
      s"q32b threshold overflow: max squared norm $maxNN >= 10^18 — " +
        "the DECIMAL(38,0) products would overflow; rescale the profiles")
    val (idxInc, allPairs) = rangeSelector(sparse, dense)
    if (idxInc < allPairs) rangePruned(sparse, dense)
    else rangeDense(sparse, dense)
  }

  private[graft] def activityRange(spark: SparkSession, dir: String): DataFrame =
    activityRangeOn(activityProfiles(spark, dir)._1)

  private val priceD = "CAST(l_extendedprice AS DECIMAL(12,2))"
  private val discD = "CAST(l_discount AS DECIMAL(12,2))"
  private val qtyD = "CAST(l_quantity AS DECIMAL(12,2))"
  /** revenue element: exact decimal, scale 4. */
  private val revD = s"$priceD * (1 - $discD)"

  // Integer-unit quantization (see scaladoc): cents / percent points /
  // hundredths; revU is in 1e-4 currency units.
  private val priceC = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
  private val discC = "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
  private val qtyC = "CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)"
  private val revU = s"$priceC * (100 - $discC)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> t { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .filter(expr("CAST(l_shipdate AS DATE) <= DATE '1999-09-01'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          expr(s"CAST(sum($qtyC) AS DOUBLE) / 100").as("sum_qty"),
          expr(s"CAST(sum($priceC) AS DOUBLE) / 100").as("sum_base_price"),
          expr(s"CAST(sum($revU) AS DOUBLE) / 10000").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    "q03_shipping_priority" -> t { (spark, dir) =>
      val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(spark, dir)
        .filter(expr("CAST(o_orderdate AS DATE) < DATE '1998-03-15'"))
      val li = Tables.lineitem(spark, dir)
        .filter(expr("CAST(l_shipdate AS DATE) > DATE '1998-03-15'"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          expr("CAST(CAST(o_orderdate AS DATE) AS STRING)").as("o_orderdate"),
          col("o_orderpriority"))
        // exactness house rule (r4): BIGINT unit sum + ONE terminal DOUBLE
        // scaling — live DECIMAL(38,4) through the hash gate breaks on
        // trailing-zero values (str(Decimal) keeps scale, the oracle's
        // float64 coercion drops it; caught by the sf0.1 pandas gate)
        .agg(expr(s"CAST(sum($revU) AS DOUBLE) / 10000").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    },
    "q05_local_supplier_volume" -> t { (spark, dir) =>
      val li = Tables.lineitem(spark, dir)
      val ord = Tables.orders(spark, dir)
        .filter(expr("CAST(o_orderdate AS DATE) >= DATE '1996-01-01' AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'"))
      val cust = Tables.customer(spark, dir)
      val supp = Tables.supplier(spark, dir)
      val nat = Tables.nation(spark, dir)
      val reg = Tables.region(spark, dir)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp,
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(expr(s"CAST(sum($revU) AS DOUBLE) / 10000").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    "q06_revenue_forecast" -> t { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .filter(expr(
          """CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
             AND l_discount >= 0.05 AND l_discount <= 0.07
             AND l_quantity < 24"""))
        // house rule: unit sum (priceC·discC is exact 1e-4 units) + one
        // terminal DOUBLE scaling — see q03 note
        .agg(expr(s"CAST(sum($priceC * $discC) AS DOUBLE) / 10000").as("revenue"),
          count(lit(1)).as("n_items"))
    },
    "q07_supplier_running_revenue" -> t { (spark, dir) =>
      // `rev_u` is the window + final ORDER BY tiebreaker: the synthetic
      // lineitem has duplicate (orderkey, linenumber) rows, so without it
      // the running sum's intermediates are order-ambiguous on key ties.
      Tables.lineitem(spark, dir)
        .withColumn("ship_date", expr("CAST(CAST(l_shipdate AS DATE) AS STRING)"))
        .withColumn("rev_u", expr(revU))
        .withColumn("running_revenue", expr("CAST(sum(rev_u) OVER (PARTITION BY l_suppkey ORDER BY ship_date, l_orderkey, l_linenumber, rev_u ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000"))
        .select("l_suppkey", "ship_date", "l_orderkey", "l_linenumber", "running_revenue")
        .orderBy(col("l_suppkey"), col("ship_date"), col("l_orderkey"),
          col("l_linenumber"), col("running_revenue"))
    },
    "q08_top_parts_per_brand" -> t { (spark, dir) =>
      // r14: aggregate the fact table by partkey BEFORE the part join —
      // partkey determines brand, so grouping by partkey alone and
      // attaching p_brand to the one-row-per-part aggregate is identical
      // to grouping by (brand, partkey) after the join. At 100 TB this
      // keeps raw lineitem out of the join shuffle entirely (the join
      // carries one row per part); the revenue sum is exact integers, so
      // the re-association is value-identical.
      val li = Tables.lineitem(spark, dir)
      val part = Tables.part(spark, dir)
      val byPart = li.groupBy(col("l_partkey").as("p_partkey"))
        .agg(expr(s"CAST(sum($revU) AS DOUBLE) / 10000").as("revenue"))
        .join(part.select("p_partkey", "p_brand"), "p_partkey")
      byPart
        .withColumn("rnk", row_number()
          .over(Window.partitionBy("p_brand")
            .orderBy(col("revenue").desc, col("p_partkey"))).cast("int"))
        .filter(col("rnk") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rnk")
        .orderBy("p_brand", "rnk")
    },
    "q10_returned_items" -> t { (spark, dir) =>
      val li = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
      val ord = Tables.orders(spark, dir)
      val cust = Tables.customer(spark, dir)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        // house rule: unit sum + one terminal DOUBLE scaling — see q03 note
        .agg(expr(s"CAST(sum($revU) AS DOUBLE) / 10000").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    "q11_user_sessions" -> t { (spark, dir) =>
      // sessionization over the events stream: a session break is a >30min
      // gap; windows keyed by user (high-cardinality at scale).
      val ev = Tables.events(spark, dir)
      val wU = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      ev.withColumn("prev_ts", lag("ts_us", 1).over(wU))
        .withColumn("is_new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > 1800000000L, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(sum("is_new_session").cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
    "q32_activity_similarity" -> t { (spark, dir) =>
      activitySimilarity(spark, dir, SkewBlockRows)
    },
    "q32b_activity_range" -> t { (spark, dir) =>
      activityRange(spark, dir)
    },
    "q33_session_funnel" -> t { (spark, dir) =>
      // the product-analytics ORDERED funnel (view → click → purchase
      // strictly later within one q11 session), computed as three keyed
      // aggs + join-backs — never a per-session event collect: stage
      // k+1's candidates filter on stage k's min timestamp, so the
      // sequencing constraint is a join predicate, not a state machine.
      // The only window is q11's session assignment (keyed by user —
      // high-cardinality at scale); everything after is hash-join +
      // keyed-agg shaped. Strictly-greater timestamps make the stage
      // order deterministic in both engines.
      val ev = Tables.events(spark, dir)
        .select("user_id", "event_id", "ts_us", "event_type")
      val wU = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      // four funnel stages read the sessionized frame — session memo, not
      // a per-invocation persist that would linger unreleased (r8 ADVICE)
      val sess = SharedFrames.memoPersisted(ev, "q33-sessionized") {
        ev.withColumn("prev_ts", lag("ts_us", 1).over(wU))
          .withColumn("brk", when(col("prev_ts").isNull ||
            col("ts_us") - col("prev_ts") > 1800000000L, 1L).otherwise(0L))
          .withColumn("sid", sum("brk").over(
            wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      }
      // r14: the three stage aggs + three join-backs collapse into three
      // STACKED full-partition windows over ONE read of the sessionized
      // frame — stage k+1's "strictly after stage k" predicate reads the
      // previous window's min directly (null tv ⇒ null comparison ⇒ tc
      // stays null, exactly the old inner-join semantics). All windows
      // and both rollups share the session key, and the memoized frame
      // is already hash-partitioned by user_id, so the whole funnel runs
      // without a single new exchange where the join form read the frame
      // 4× and built three session-scaled broadcast join-backs.
      val wS = Window.partitionBy("user_id", "sid")
      val staged = sess
        .withColumn("tv", min(when(col("event_type") === "view",
          col("ts_us"))).over(wS))
        .withColumn("tc", min(when(col("event_type") === "click" &&
          col("ts_us") > col("tv"), col("ts_us"))).over(wS))
        .withColumn("tp", min(when(col("event_type") === "purchase" &&
          col("ts_us") > col("tc"), col("ts_us"))).over(wS))
      staged.groupBy("user_id", "sid")
        .agg(max("tv").as("tv"), max("tc").as("tc"), max("tp").as("tp"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("tv").isNotNull, 1L).otherwise(0L)).as("n_view"),
          sum(when(col("tc").isNotNull, 1L).otherwise(0L)).as("n_click_after_view"),
          sum(when(col("tp").isNotNull, 1L).otherwise(0L)).as("n_full_funnel"))
        .withColumn("funnel_frac",
          expr("CAST(n_full_funnel AS DOUBLE) / n_sessions"))
        .orderBy("user_id")
    },
    "q34_rate_anomaly" -> t { (spark, dir) =>
      // event-rate anomaly flags: per (event_type, time bucket), is the
      // bucket's count a >3σ outlier against the type's own rate? The
      // 3-sigma rule in CROSS-MULTIPLIED exact integers — flag iff
      // (B·n − S)² > 9·(B·SS − S²), i.e. (n − mean)² > 9·var with every
      // division cleared — so the flag, deviation and threshold are all
      // BIGINT-exact (the money-math discipline applied to variance).
      // ZERO buckets participate via the dense type×bucket grid (an
      // explode over a 64-literal sequence — a silent bucket IS the
      // anomaly a monitor must catch); the grid is O(#types · B), the
      // stats one keyed agg, the span a 1-row whitelisted broadcast.
      val ev = Tables.events(spark, dir).select("event_type", "ts_us")
      // the stats agg and the final flag join both read the dense grid;
      // inside its one-time compute the bucketed count frame is read
      // twice (type list + grid join) — memoReleasing pins it only for
      // the materialization, then frees it (r8 ADVICE persist-leak class)
      val grid = SharedFrames.memoReleasing(ev, "q34-grid-b64") {
        val span = ev.agg(min("ts_us").as("t0"), max("ts_us").as("t1"))
        val cnt = ev.crossJoin(broadcast(span))
          .withColumn("bucket", expr("((ts_us - t0) * 64) div (t1 - t0 + 1)"))
          .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
          .persist()
        val g = cnt.select("event_type").distinct()
          .withColumn("bucket", explode(sequence(lit(0L), lit(63L))))
          .join(cnt, Seq("event_type", "bucket"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
        (g, () => { cnt.unpersist(); () })
      }
      val st = grid.groupBy("event_type")
        .agg(sum("n").as("s"), sum(expr("n * n")).as("ss"))
      grid.join(st, "event_type")
        .withColumn("dev2", expr("(64 * n - s) * (64 * n - s)"))
        .withColumn("thr", expr("9 * (64 * ss - s * s)"))
        .select(col("event_type"), col("bucket"), col("n"),
          col("dev2"), col("thr"), (col("dev2") > col("thr")).as("is_anomaly"))
        .orderBy("event_type", "bucket")
    },
    "q35_event_cooccurrence" -> t { (spark, dir) =>
      // market-basket lift over event types: which pairs of event types the
      // same users perform, scored by lift = P(a∧b) / (P(a)·P(b)) — the
      // co-occurrence signal a recommender or anomaly triage reads. The
      // numerator and denominator are CROSS-MULTIPLIED exact BIGINTs
      // (n_ab·N and n_a·n_b) with ONE final double division, so the value
      // hash-matches the oracle. Scale: the distinct (user, type) frame is
      // one shuffle keyed by (user, type); the self-join fans out ≤
      // (#types per user)² rows per user — the event-type vocabulary is an
      // enumerable constant, so the pair stage is LINEAR in users, and the
      // output is #types², not data-scaled. The user count is a group-less
      // scalar (whitelisted 1-row broadcast).
      cooccurrenceLift(Tables.events(spark, dir))
    },
    "q36_event_transitions" -> t { (spark, dir) =>
      // first-order Markov transition matrix over each user's time-ordered
      // event stream: P(next | prev) with exact-integer counts and one
      // final division. The order is made TOTAL by the (ts_us, event_id)
      // tie-break — without it, same-timestamp events would make the lag
      // nondeterministic and the oracle hash unstable. Scale: one shuffle
      // keyed by user for the lag window (each user's history sorts within
      // its partition — the q33 sessionize shape), then one keyed agg on
      // (prev, next); output is ≤ #types², not data-scaled.
      eventTransitions(Tables.events(spark, dir))
    },
    "q04_order_priority" -> t { (spark, dir) =>
      // EXISTS → left_semi: the lineitem side is reduced to distinct keys
      // before the join, so no row multiplication ever happens.
      val ord = Tables.orders(spark, dir)
        .filter(expr("CAST(o_orderdate AS DATE) >= DATE '1996-07-01' AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'"))
      val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
      ord.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            expr("CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    "q18_large_volume_customer" -> t { (spark, dir) =>
      // HAVING over a big aggregation: one shuffle keyed by orderkey with
      // map-side partials, then AQE-sized joins back to the dimensions.
      val big = Tables.lineitem(spark, dir)
        .groupBy("l_orderkey")
        .agg(expr(s"sum($qtyC)").as("qty_c"))
        .filter(col("qty_c") > 30000)
      val ord = Tables.orders(spark, dir)
      val cust = Tables.customer(spark, dir)
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("l_orderkey"),
          expr("CAST(CAST(o_orderdate AS DATE) AS STRING)").as("o_orderdate"),
          expr("CAST(qty_c AS DOUBLE) / 100").as("total_qty"))
        .orderBy(col("total_qty").desc, col("l_orderkey"))
        .limit(50)
    },
    "q12_rollup_revenue" -> t { (spark, dir) =>
      // ROLLUP via re-aggregation of the finest level, not Spark's Expand:
      // Expand would push 3× the scan rows through partial aggregation,
      // while the coarser levels here aggregate the TINY (rf, ls) frame.
      // Lossless because the per-group sums are exact decimals of the same
      // scale, so sum-of-sums equals the direct sum.
      val base = Tables.lineitem(spark, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(expr(s"sum($revU)").as("rev_u"),
          count(lit(1)).as("n_items"))
      val byFlag = base.groupBy("l_returnflag")
        .agg(sum("rev_u").as("rev_u"),
          sum("n_items").as("n_items"))
        .withColumn("l_linestatus", lit(null).cast("string"))
      val total = base
        .agg(sum("rev_u").as("rev_u"),
          sum("n_items").as("n_items"))
        .withColumn("l_returnflag", lit(null).cast("string"))
        .withColumn("l_linestatus", lit(null).cast("string"))
      base.unionByName(byFlag.select(base.columns.toIndexedSeq.map(col): _*))
        .unionByName(total.select(base.columns.toIndexedSeq.map(col): _*))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          expr("CAST(rev_u AS DOUBLE) / 10000").as("revenue"), col("n_items"))
        .orderBy("rf", "ls")
    },
    "q17_small_qty_revenue" -> t { (spark, dir) =>
      // correlated scalar subquery (qty < 0.2 * per-part avg) decorrelated
      // into a per-part aggregate + join; the comparison is kept in exact
      // integers by cross-multiplying (qtyC·5·n < sumQtyC) instead of
      // dividing — no rounding anywhere until the terminal scaling.
      val parts = Tables.part(spark, dir)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select("p_partkey")
      val li = Tables.lineitem(spark, dir)
      val perPart = li.groupBy("l_partkey")
        .agg(expr(s"sum($qtyC)").as("sum_qty_c"), count(lit(1)).as("n_li"))
      li.join(parts, col("l_partkey") === col("p_partkey"))
        .join(perPart, "l_partkey")
        .filter(expr(s"$qtyC * 5 * n_li < sum_qty_c"))
        .agg(expr(s"CAST(sum($priceC) AS DOUBLE) / 100").as("revenue"),
          count(lit(1)).as("n_items"))
    },
    "q19_disjunctive_revenue" -> t { (spark, dir) =>
      // OR-of-conjunctions predicate spanning both join sides (TPC-H Q19
      // shape): the join stays an equi hash join on partkey; the
      // disjunction is a post-join filter while the shared conjunct
      // (qty <= 30) pushes to the lineitem scan.
      val li = Tables.lineitem(spark, dir).filter(col("l_quantity") <= 30)
      val part = Tables.part(spark, dir)
      li.join(part, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
            col("l_quantity").between(20, 30)))
        .agg(expr(s"CAST(sum($revU) AS DOUBLE) / 10000").as("revenue"),
          count(lit(1)).as("n_items"))
    },
    "q21_waiting_suppliers" -> t { (spark, dir) =>
      // TPC-H Q21 shape (exists + not-exists against the same fact table)
      // decorrelated into ONE pass: per (order, supplier) return flags,
      // then per-order stats AS A WINDOW over the same frame — the r14
      // form. The previous groupBy+self-join consumed `flags` twice
      // (unpersisted: the lineitem scan + (orderkey, suppkey) aggregation
      // ran twice) and re-shuffled both arms on orderkey for the join; the
      // window computes n_supp/n_ret in the single orderkey exchange the
      // join needed anyway. One scan, two exchanges, no self-join.
      val li = Tables.lineitem(spark, dir)
      val flags = li.groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("ret"))
      val wOrd = Window.partitionBy("l_orderkey")
      flags
        .withColumn("n_supp", count(lit(1)).over(wOrd))
        .withColumn("n_ret", sum("ret").over(wOrd))
        .filter(col("n_supp") >= 2 && col("n_ret") === 1 && col("ret") === 1)
        .join(Tables.supplier(spark, dir),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
    "q22_balance_opportunity" -> t { (spark, dir) =>
      // TPC-H Q22 shape: scalar avg subquery + anti join. The avg
      // comparison is exact integers cross-multiplied (balC·n > sumC over
      // positive balances); the anti side is customers who never placed an
      // urgent order (every customer in this corpus has SOME order, so the
      // classic no-orders form would be vacuously empty).
      val cust = Tables.customer(spark, dir)
        .withColumn("bal_c", expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"))
      val avgPos = cust.filter(col("bal_c") > 0)
        .agg(sum("bal_c").as("sum_c"), count(lit(1)).as("n_pos"))
      val noOrders = cust.join(
        Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      noOrders.crossJoin(broadcast(avgPos))
        .filter(col("bal_c") * col("n_pos") > col("sum_c"))
        .groupBy(col("c_nationkey").as("cntry"))
        .agg(count(lit(1)).as("n_cust"),
          expr("CAST(sum(bal_c) AS DOUBLE) / 100").as("total_bal"))
        .orderBy("cntry")
    },
    "q02_min_cost_supplier" -> t { (spark, dir) =>
      // TPC-H Q2 shape (correlated MIN subquery). The part-supplier cost
      // relation is derived from lineitem (no partsupp table in this
      // corpus): cost = min extendedprice ever charged by that supplier
      // for that part, in exact cents. The correlation decorrelates into
      // a window MIN keyed by part (high-cardinality, never global) and
      // an equality filter — no self-join, one extra shuffle at most.
      //
      // r14: the selective part predicate (ECONOMY, size ≤ 15) is pushed
      // BELOW the aggregation as a semi-join on the scan — the per-part
      // window min is unaffected by dropping whole partkeys, so both
      // exchanges (the (partkey, suppkey) aggregation and the partkey
      // window) now carry only qualifying parts' rows instead of the
      // full fact table (guide §2.3: shuffle fewer bytes). No hint: the
      // part projection is SF-scaled, AQE sizes the join (broadcast at
      // bench SFs, shuffle at 100 TB).
      val parts = Tables.part(spark, dir)
        .filter(col("p_type") === "ECONOMY" && col("p_size") <= 15)
        .select("p_partkey", "p_name")
      val ps = Tables.lineitem(spark, dir)
        .join(parts.select("p_partkey"),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(expr(s"min($priceC)").as("cost_c"))
      val winners = ps
        .withColumn("min_c", min("cost_c").over(Window.partitionBy("l_partkey")))
        .filter(col("cost_c") === col("min_c"))
      winners
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(spark, dir),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
          expr("CAST(cost_c AS DOUBLE) / 100").as("min_cost"))
        .orderBy("p_partkey", "s_name")
    },
    "q09_product_type_profit" -> t { (spark, dir) =>
      // TPC-H Q9 shape: profit per (supplier nation, order year) over a
      // name-filtered part set. Supply cost is proxied by the part's
      // retail price (no partsupp). amount stays in exact 1e-4 currency
      // units: revU (cents × percent) minus retailC·qtyC (cents × cents
      // of quantity). part/supplier joins are AQE-sized (sf-scaled, so no
      // forced broadcast); the orders join is the one honest fact-fact
      // shuffle (orderkey-keyed, AQE-planned).
      val parts = Tables.part(spark, dir)
        .filter(col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
        .withColumn("retail_c", expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)"))
      // r14: pre-aggregate by (orderkey, nation) BEFORE the orders join —
      // the one honest fact-fact shuffle now carries one row per
      // (order, nation) instead of one per lineitem (~4× fewer rows at
      // any scale). amount stays an exact BIGINT, so summing the partial
      // sums after the join is value-identical.
      Tables.lineitem(spark, dir)
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(spark, dir),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("l_orderkey", "n_name")
        .agg(expr(s"sum($revU - retail_c * $qtyC)").as("amt_q"),
          count(lit(1)).as("n_i"))
        .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"),
          expr("CAST(year(CAST(o_orderdate AS DATE)) AS INT)").as("o_year"))
        .agg(expr("CAST(sum(amt_q) AS DOUBLE) / 10000").as("profit"),
          sum("n_i").as("n_items"))
        .orderBy(col("n_name"), col("o_year").desc)
    },
    "q16_supplier_parts_count" -> t { (spark, dir) =>
      // TPC-H Q16 shape: distinct-supplier counts per part attribute
      // group, excluding a supplier denylist (NOT IN → anti join,
      // AQE-sized since both sides scale with SF). The part-supplier
      // relation reduces to DISTINCT pairs before any join — no row
      // multiplication downstream.
      //
      // r14: both dimension predicates move BELOW the distinct — the
      // part semi-join (selective brand/size set) and the supplier
      // anti-join drop fact rows on the scan side, so the (partkey,
      // suppkey) distinct exchange carries only qualifying rows (guide
      // §2.3). Distinct-then-filter and filter-then-distinct commute, so
      // the surviving pair set is identical. No hints: all sides are
      // SF-scaled, AQE sizes the joins.
      val excl = Tables.supplier(spark, dir)
        .filter(col("s_name").like("%7")).select("s_suppkey")
      val parts = Tables.part(spark, dir)
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val pairs = Tables.lineitem(spark, dir)
        .select("l_partkey", "l_suppkey")
        .join(parts.select("p_partkey"),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .join(excl, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .distinct()
      pairs
        .join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },
    "q20_part_promotion" -> t { (spark, dir) =>
      // TPC-H Q20 shape (nested IN with aggregate threshold): suppliers
      // who dominated (>50% of volume) a contested (≥3 suppliers) red
      // part in 1996. The correlated availqty comparison decorrelates
      // into per-(part,supplier) sums, a per-part re-aggregation of that
      // SAME small frame (sum-of-sums is exact in integers), and a
      // cross-multiplied threshold — then semi/equi joins out to the
      // dimensions (AQE-sized; only the fixed-25-row nation keeps a hint).
      val shipped = Tables.lineitem(spark, dir)
        .filter(expr("CAST(l_shipdate AS DATE) >= DATE '1996-01-01' AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(expr(s"sum($qtyC)").as("pair_qty_c"))
      val redParts = Tables.part(spark, dir)
        .filter(col("p_name").like("red%")).select("p_partkey")
      // r14: per-part totals as a window over the (part, supplier) frame
      // (the q21 shape) — the group is one row per supplier of the part,
      // so the unpersisted shipped agg no longer computes twice and the
      // agg+join-back's extra partkey exchange is gone.
      val wPart = Window.partitionBy("l_partkey")
      val promo = shipped
        .withColumn("total_qty_c", sum("pair_qty_c").over(wPart))
        .withColumn("n_supp", count(lit(1)).over(wPart))
        .filter(col("pair_qty_c") * 2 > col("total_qty_c") && col("n_supp") >= 3)
        .join(redParts, col("l_partkey") === col("p_partkey"), "left_semi")
        .select("l_suppkey").distinct()
      promo
        .join(Tables.supplier(spark, dir),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_suppkey")
    },
    "q28_promo_window" -> t { (spark, dir) =>
      // per-supplier launch-window analysis via the bucketed RANGE join:
      // each supplier's window is [first ship day, +14 days); lineitems
      // are matched point-in-interval per supplier key. Bucket width 16
      // days ⇒ ≤ 2 replicas per interval; the join itself is a hash join
      // on (suppkey, bucket) — no theta nested loop (PlanSpec-asserted).
      // the projected fact frame feeds both the window derivation and the
      // range join's point side — session memo (r8 ADVICE persist-leak
      // class: a bare per-invocation persist lingers for the session)
      val liBase = Tables.lineitem(spark, dir)
        .withColumn("d",
          expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)"))
        .withColumn("rev_u", expr(revU))
        .select("l_suppkey", "d", "rev_u")
      val li = SharedFrames.memoPersisted(liBase, "q28-li-proj")(liBase)
      val windows = li.groupBy("l_suppkey")
        .agg(min("d").as("w_start"))
        .withColumn("w_end", col("w_start") + 14)
      RangeJoin.pointInInterval(li, "d", windows, "w_start", "w_end",
          bucketWidth = 16, keys = Seq("l_suppkey"))
        .groupBy("l_suppkey", "w_start")
        .agg(count(lit(1)).as("n_items"),
          expr("CAST(sum(rev_u) AS DOUBLE) / 10000").as("window_revenue"))
        .orderBy("l_suppkey")
    },
    "q27_stats_moments" -> t { (spark, dir) =>
      // statistical aggregates without float-sum order sensitivity: mean
      // and population variance from exact integer moments (Σx, Σx² in
      // BIGINT cents), one IEEE expression at the end over identical
      // integers. Float stddev/variance built-ins accumulate in doubles
      // whose value depends on aggregation order — never hash-stable
      // across engines or even across runs at different parallelism.
      // Range: bal_c ≤ 10^6 cents and E[bal_c²] ≈ 3·10^11, so n·Σx² ≈
      // n²·3·10^11 — at sf0.1 (n ≈ 3k/segment) that is ~2.7·10^18, inside
      // BIGINT with <2× headroom in n. The safe bound is n ≲ 5.5k/group
      // (≈3k if balances cluster at the 10^6-cent cap): beyond that the
      // moments MUST move to a DECIMAL(38,0) accumulator — Spark's
      // non-ANSI Long arithmetic wraps silently.
      val cust = Tables.customer(spark, dir)
        .withColumn("bal_c", expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"))
      cust.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum("bal_c").as("s1"),
          sum(expr("bal_c * bal_c")).as("s2"))
        .select(col("c_mktsegment"), col("n"),
          expr("CAST(s1 AS DOUBLE) / n / 100").as("mean_bal"),
          expr("CAST(n * s2 - s1 * s1 AS DOUBLE) / (CAST(n AS DOUBLE) * n) / 10000")
            .as("var_bal"))
        .orderBy("c_mktsegment")
    },
    "q26_cube_mix" -> t { (spark, dir) =>
      // CUBE over (source, lang) token totals by re-aggregating the
      // finest level — same rationale as q12's ROLLUP: Spark's Expand
      // would push 4× the scan rows through partial aggregation, while
      // the three coarser levels here re-aggregate the TINY (source,
      // lang) frame. Lossless: integer sums of sums.
      val base = Tables.documents(spark, dir)
        .withColumn("n_words", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("total_words"))
      val bySource = base.groupBy("source")
        .agg(sum("n_docs").as("n_docs"), sum("total_words").as("total_words"))
        .withColumn("lang", lit(null).cast("string"))
      val byLang = base.groupBy("lang")
        .agg(sum("n_docs").as("n_docs"), sum("total_words").as("total_words"))
        .withColumn("source", lit(null).cast("string"))
      val total = base.agg(sum("n_docs").as("n_docs"), sum("total_words").as("total_words"))
        .withColumn("source", lit(null).cast("string"))
        .withColumn("lang", lit(null).cast("string"))
      val cols = base.columns.toIndexedSeq.map(col)
      base.unionByName(bySource.select(cols: _*))
        .unionByName(byLang.select(cols: _*))
        .unionByName(total.select(cols: _*))
        .select(coalesce(col("source"), lit("ALL")).as("src"),
          coalesce(col("lang"), lit("ALL")).as("lng"),
          col("n_docs"), col("total_words"))
        .orderBy("src", "lng")
    },
    "q25_skew_salted" -> t { (spark, dir) =>
      // skew-mitigated fact⋈dim shuffle join (SkewOps.saltedJoin): the
      // hot supplier keys spread across 16 salt sub-keys, the dim side
      // replicates once per salt. Row-identical to the plain join — the
      // oracle IS the unsalted formulation, proving the rewrite lossless.
      val fact = Tables.lineitem(spark, dir)
        .withColumn("rev_u", expr(revU))
        .select("l_suppkey", "rev_u")
      val dim = Tables.supplier(spark, dir)
        .withColumnRenamed("s_suppkey", "l_suppkey")
        .select("l_suppkey", "s_name")
      SkewOps.saltedJoin(fact, dim, "l_suppkey")
        .groupBy("s_name")
        .agg(expr("CAST(sum(rev_u) AS DOUBLE) / 10000").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("s_name")
    },
    "q24_window_suite" -> t { (spark, dir) =>
      // the full window-function surface in one keyed pass: ranking
      // (row_number/rank/dense_rank/ntile), navigation (lag/lead),
      // frame aggregates (first_value, running avg as exact integers).
      // All windows share ONE partition key (supplier) and ONE order —
      // Spark plans a single sort+window stage, no repeated shuffles.
      val w = Window.partitionBy("l_suppkey")
        .orderBy("ship_date", "l_orderkey", "l_linenumber", "rev_u")
      Tables.lineitem(spark, dir)
        .withColumn("ship_date", expr("CAST(CAST(l_shipdate AS DATE) AS STRING)"))
        .withColumn("rev_u", expr(revU))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("prev_rev", lag("rev_u", 1).over(w))
        .withColumn("next_rev", lead("rev_u", 1).over(w))
        .withColumn("first_rev", first("rev_u").over(w))
        .withColumn("run_cnt", count(lit(1)).over(w))
        .select("l_suppkey", "ship_date", "l_orderkey", "l_linenumber", "rev_u",
          "rn", "rnk", "drnk", "quartile", "prev_rev", "next_rev",
          "first_rev", "run_cnt")
        .orderBy("l_suppkey", "rn")
    },
    "q13_semi_anti_join" -> t { (spark, dir) =>
      // existence tests as leftsemi/leftanti — no row multiplication; the
      // orders side is a single-column key projection, shuffled on custkey
      // (AQE-sized: at SF the key set scales with orders, so no forced
      // broadcast — at 100 TB that projection is ~10^11 rows).
      //
      // r14: ONE pass instead of two — the previous semi + anti arms each
      // scanned customer and orders and shuffled both, then full-outer
      // joined the two segment aggregates back together. A left join
      // against the DISTINCT order keys preserves customer row count
      // exactly (≤1 match per key), so both counts come out of one
      // conditional aggregation: half the scans, half the join shuffles,
      // no outer-join reconciliation.
      val cust = Tables.customer(spark, dir)
      val ordKeys = Tables.orders(spark, dir).select("o_custkey").distinct()
      cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("n_with_orders"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_without_orders"))
        .orderBy("c_mktsegment")
    },
    "q14_set_ops" -> t { (spark, dir) =>
      // r14: the union/intersect/except formulation scanned orders 6×
      // and shuffled each buyer set up to 3× (24 exchanges in the before
      // plan). All four counts are functions of one per-customer flag
      // pair, so ONE scan + ONE custkey aggregation + ONE global
      // count-rollup replaces the whole set-algebra tree. Counts are
      // identical: in96/in97 mark membership in each year's distinct
      // buyer set.
      val flags = Tables.orders(spark, dir)
        .withColumn("od", expr("CAST(o_orderdate AS DATE)"))
        .filter(expr("od >= DATE '1996-01-01' AND od < DATE '1998-01-01'"))
        .groupBy("o_custkey")
        .agg(max(when(expr("od < DATE '1997-01-01'"), 1).otherwise(0)).as("in96"),
          max(when(expr("od >= DATE '1997-01-01'"), 1).otherwise(0)).as("in97"))
      flags.agg(count(lit(1)).as("n_union"),
        sum(when(col("in96") === 1 && col("in97") === 1, 1L).otherwise(0L)).as("n_intersect"),
        sum(when(col("in96") === 1 && col("in97") === 0, 1L).otherwise(0L)).as("n_only_1996"),
        sum(when(col("in96") === 0 && col("in97") === 1, 1L).otherwise(0L)).as("n_only_1997"))
    },
    "q15_asof_heartbeat" -> t { (spark, dir) =>
      // position every event against the last heartbeat at or before it —
      // the distributed form of the reference's heartbeat search (T33).
      val ev = Tables.events(spark, dir)
      val hb = ev.filter(col("event_type") === "view")
        .select(col("ts_us").as("hb_ts_us"), col("event_id").as("hb_serial"))
      val dat = ev.filter(col("event_type") =!= "view").select("event_id", "ts_us")
      // heartbeat mean gap is ~2 min at sf0.1: a 10-min bucket keeps O(1)
      // beacons per bucket so the in-bucket join stays linear
      // foldLeft (r14): dat is narrow (key + ts), so folding it through
      // the in-bucket aggregation crosses the wire once — the join-back
      // path's second event_id shuffle of the event frame is gone
      AsOfJoin.lastBefore(dat, "event_id", "ts_us", hb, "hb_ts_us", "hb_serial",
        bucketUs = 600L * 1000000L, foldLeft = true)
        .select(col("event_id"), col("ts_us"),
          col("asof_ts").as("hb_ts_us"), col("asof_val").as("hb_serial"))
        .orderBy("event_id")
    },
    "q29_cohort_retention" -> t { (spark, dir) =>
      // cohort retention over the event stream: cohort = a user's first
      // active day, retention = distinct users still active at each day
      // offset. The (user, day) grid dedupes in one keyed agg; the
      // per-user cohort day is an unordered window min over user_id (no
      // sort, high-cardinality partition key); the roll-up to
      // (cohort_day, offset) and the cohort-size window both run on the
      // already-aggregated frame, which is O(users·days-active) →
      // O(cohorts·offsets) — tiny relative to the event stream at any SF.
      val ev = Tables.events(spark, dir)
      val days = ev
        .select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
        .distinct()
      val withCohort = days.withColumn("cohort_day",
        min("day").over(Window.partitionBy("user_id")))
      val grid = withCohort
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
      // every user is active on their cohort day, so offset-0 n_users IS
      // the cohort size — no extra distinct-user pass needed
      grid.withColumn("cohort_size",
          max(when(col("day_offset") === 0, col("n_users")))
            .over(Window.partitionBy("cohort_day")))
        .withColumn("retention", expr("CAST(n_users AS DOUBLE) / cohort_size"))
        .orderBy("cohort_day", "day_offset")
    },
    "q30_conversion_funnel" -> t { (spark, dir) =>
      // ordered conversion funnel signup → view → click → purchase: each
      // stage's per-user timestamp is the first occurrence STRICTLY AFTER
      // the previous stage's (not the global per-type min — a view before
      // the signup does not convert). Four keyed min-aggs + hash joins,
      // all on user_id so the shuffles co-partition. The stage chain
      // lives in [[funnelStages]] so FunnelSpec drives the PRODUCTION
      // logic, not a copy. The final report is four 1-row aggregates.
      val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts_us")
      val stages = funnelStages(ev)
      val counts = Seq("1_signup", "2_view", "3_click", "4_purchase")
        .zip(stages)
        .map { case (name, df) =>
          df.agg(count(lit(1)).as("n_users")).withColumn("stage", lit(name))
        }
        .reduce(_ unionByName _)
      counts
        .crossJoin(broadcast(stages.head.agg(count(lit(1)).as("n_first"))))
        // NULL (not a throw / ±Inf) on an empty first stage, same as the
        // oracle's x/0
        .withColumn("conv_frac", expr(
          "CASE WHEN n_first = 0 THEN NULL ELSE CAST(n_users AS DOUBLE) / n_first END"))
        .select("stage", "n_users", "conv_frac")
        .orderBy("stage")
    },

    // q31 — Morton-cell occupancy of the (part, supplier) keyspace: the
    // layout-PLANNING statistic behind [[graft.data.ZOrder]] (the layout
    // itself is spec-proven by ZOrderSpec; this makes its directory key
    // oracle-checked). Each lineitem row's two keys map into the 16-bit
    // z-budget (modulo — the key-budget mapping a deployment picks), the
    // plan-time-generated interleave expression computes the curve value
    // (narrow, codegen'd, no shuffle before the keyed agg), and the
    // per-bucket histogram (row count, z range, distinct parts) is what
    // sizes `shift`: skewed buckets ⇒ smaller cells, empty fan-out ⇒
    // larger. One hash aggregation on the bucket key — at 100 TB this is
    // the cheap dry-run before paying the z-ordered rewrite.
    "q31_zorder_cells" -> t { (spark, dir) =>
      val li = Tables.lineitem(spark, dir)
        .select(pmod(col("l_partkey"), lit(65536)).cast("long").as("zx"),
          pmod(col("l_suppkey"), lit(65536)).cast("long").as("zy"),
          col("l_partkey"))
      li.withColumn("z", expr(graft.data.ZOrder.zExpr("zx", "zy")))
        .withColumn("zbucket", expr("shiftright(z, 16)"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n_rows"), min("z").as("z_min"),
          max("z").as("z_max"), countDistinct("l_partkey").as("n_parts"))
        .orderBy("zbucket")
    }
  )

  /** q35's core over a (user_id, event_type) frame — market-basket lift
    * between event types: lift = P(a∧b) / (P(a)·P(b)) over users, with the
    * numerator and denominator CROSS-MULTIPLIED as exact BIGINTs
    * (n_ab·N and n_a·n_b) and ONE final double division, so the value
    * hash-matches the oracle. Scale: the distinct (user, type) frame is
    * one shuffle keyed by (user, type); the self-join fans out ≤
    * (#types per user)² rows per user — the event-type vocabulary is an
    * enumerable constant, so the pair stage is LINEAR in users, and the
    * output is #types², not data-scaled. The user count is a group-less
    * scalar (whitelisted 1-row broadcast). */
  private[data] def cooccurrenceLift(events: DataFrame): DataFrame = {
    // feeds singles, the user count, and both join sides; memoPersisted so
    // repeated invocations (spec trials, bench passes) reuse one copy
    // instead of leaking fresh persists (the r8 ADVICE class)
    val distinctUe = events.select("user_id", "event_type").distinct()
    val ue = SharedFrames.memoPersisted(distinctUe, "q35-user-types")(distinctUe)
    val singles = ue.groupBy("event_type").agg(count(lit(1)).as("n_single"))
    // r14: pairs from a per-user SORTED type array instead of the
    // self-join — the collect_list buffer is bounded by the enumerable
    // event-type vocabulary (never data-scaled), the array is strictly
    // increasing (ue is distinct), so (i < j) positions reproduce the
    // (a.type < b.type) join predicate exactly, and the pair fan-out
    // happens map-side: ONE user-keyed exchange where the join paid two
    // (plus the user-count distinct, now a row count of the same frame).
    val grouped = ue.groupBy("user_id")
      .agg(sort_array(collect_list("event_type")).as("ts"))
    val users = grouped.agg(count(lit(1)).as("n_users"))
    grouped
      .filter(size(col("ts")) >= 2) // sequence(1, 0) would descend
      .withColumn("i", explode(sequence(lit(1), size(col("ts")) - 1)))
      .withColumn("j", explode(sequence(col("i") + 1, size(col("ts")))))
      .select(element_at(col("ts"), col("i")).as("type_a"),
        element_at(col("ts"), col("j")).as("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_ab"))
      .join(singles.toDF("type_a", "n_a"), "type_a")
      .join(singles.toDF("type_b", "n_b"), "type_b")
      .crossJoin(broadcast(users))
      .withColumn("lift", expr("CAST(n_ab * n_users AS DOUBLE) / (n_a * n_b)"))
      .select("type_a", "type_b", "n_ab", "n_a", "n_b", "n_users", "lift")
      .orderBy("type_a", "type_b")
  }

  /** q36's core over a (user_id, event_type, ts_us, event_id) frame —
    * first-order Markov transition matrix of each user's time-ordered
    * event stream: P(next | prev) with exact-integer counts and one final
    * division. The order is made TOTAL by the (ts_us, event_id) tie-break
    * — without it, same-timestamp events would make the lag
    * nondeterministic and the oracle hash unstable. Scale: one shuffle
    * keyed by user for the lag window (each user's history sorts within
    * its partition — the q33 sessionize shape), then one keyed agg on
    * (prev, next); output is ≤ #types², not data-scaled. */
  private[graft] def eventTransitions(events: DataFrame): DataFrame = {
    val trans = events
      .select("user_id", "event_type", "ts_us", "event_id")
      .withColumn("prev_type", lag("event_type", 1).over(
        Window.partitionBy("user_id").orderBy("ts_us", "event_id")))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    val from = trans.groupBy("prev_type").agg(sum("n_trans").as("n_from"))
    trans.join(from, "prev_type")
      .withColumn("prob", expr("CAST(n_trans AS DOUBLE) / n_from"))
      .select("prev_type", "next_type", "n_trans", "n_from", "prob")
      .orderBy("prev_type", "next_type")
  }

  /** q30's staged chain over an (user_id, event_type, ts_us) frame: one
    * per-user min-timestamp frame per funnel stage, each bounded strictly
    * after the previous stage. Each stage is a [[SharedFrames]] pay-once
    * artifact (keyed by the input plan + the stage-chain prefix): the next
    * stage AND the roll-up read one materialized copy, and repeated
    * invocations over the same input (FunnelSpec's trials, repeated bench
    * passes) reuse it instead of accumulating freshly-persisted blocks for
    * the session lifetime. */
  private[data] def funnelStages(ev: DataFrame,
      stages: Seq[String] = Seq("signup", "view", "click", "purchase")): Seq[DataFrame] = {
    def stageTag(i: Int) = s"funnel-${stages.take(i + 1).mkString(">")}"
    val first = SharedFrames.memo(ev, stageTag(0))(
      ev.filter(col("event_type") === stages.head)
        .groupBy("user_id").agg(min("ts_us").as("t")))
    stages.tail.zipWithIndex.scanLeft(first) { case (prev, (typ, i)) =>
      SharedFrames.memo(ev, stageTag(i + 1))(
        ev.filter(col("event_type") === typ)
          .join(prev.select(col("user_id"), col("t").as("t_prev")), "user_id")
          .filter(col("ts_us") > col("t_prev"))
          .groupBy("user_id").agg(min("ts_us").as("t")))
    }
  }

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" -> s"""
      SELECT l_returnflag, l_linestatus,
        CAST(sum($qtyC) AS DOUBLE) / 100 AS sum_qty,
        CAST(sum($priceC) AS DOUBLE) / 100 AS sum_base_price,
        CAST(sum($revU) AS DOUBLE) / 10000 AS sum_disc_price,
        CAST(count(*) AS BIGINT) AS count_order
      FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1999-09-01'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q03_shipping_priority" -> s"""
      SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_orderdate,
        o_orderpriority, CAST(sum($revU) AS DOUBLE) / 10000 AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
        AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
      GROUP BY 1, 2, 3 ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q05_local_supplier_volume" -> s"""
      SELECT n_name, CAST(sum($revU) AS DOUBLE) / 10000 AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q06_revenue_forecast" -> s"""
      SELECT CAST(sum($priceC * $discC) AS DOUBLE) / 10000 AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
    "q07_supplier_running_revenue" -> s"""
      SELECT l_suppkey, ship_date, l_orderkey, l_linenumber,
        CAST(sum(rev_u) OVER (PARTITION BY l_suppkey ORDER BY ship_date, l_orderkey, l_linenumber, rev_u
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000 AS running_revenue
      FROM (SELECT l_suppkey, CAST(CAST(l_shipdate AS DATE) AS STRING) AS ship_date,
              l_orderkey, l_linenumber, $revU AS rev_u FROM lineitem) q
      ORDER BY l_suppkey, ship_date, l_orderkey, l_linenumber, running_revenue""",
    "q08_top_parts_per_brand" -> s"""
      WITH byPart AS (
        SELECT p_brand, p_partkey, CAST(sum($revU) AS DOUBLE) / 10000 AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
      ), ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS INT) AS rnk
        FROM byPart
      )
      SELECT p_brand, p_partkey, revenue, rnk FROM ranked WHERE rnk <= 3
      ORDER BY p_brand, rnk""",
    "q10_returned_items" -> s"""
      SELECT c_custkey, c_name, CAST(sum($revU) AS DOUBLE) / 10000 AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q11_user_sessions" -> """
      WITH gaps AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
          lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
        FROM events
      )
      SELECT user_id,
        CAST(sum(CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        CAST(count(*) AS BIGINT) AS n_events
      FROM gaps GROUP BY user_id ORDER BY user_id""",
    "q32_activity_similarity" -> """
      WITH sp AS (
        SELECT user_id,
               ((epoch_us(ts) - s.t0) * 64) // (s.t1 - s.t0 + 1) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events,
             (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events) s
        GROUP BY 1, 2
      ), nr AS (
        SELECT user_id, CAST(sum(n * n) AS BIGINT) AS nn FROM sp GROUP BY 1
      ), dots AS (
        SELECT q.user_id AS q_user, b.user_id AS sim_user,
               CAST(sum(q.n * b.n) AS BIGINT) AS dot
        FROM sp q JOIN sp b
          ON q.bucket = b.bucket AND q.user_id % 5 = 0 AND b.user_id <> q.user_id
        GROUP BY 1, 2
      ), scored AS (
        SELECT d.q_user, d.sim_user, d.dot,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS cos
        FROM dots d JOIN nr nq ON d.q_user = nq.user_id
                    JOIN nr nb ON d.sim_user = nb.user_id
      ), rk AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY q_user ORDER BY cos DESC, sim_user) AS INT) AS rnk
        FROM scored
      )
      SELECT q_user, sim_user, rnk, dot, cos FROM rk
      WHERE rnk <= 3 ORDER BY q_user, rnk""",
    "q32b_activity_range" -> """
      WITH sp AS (
        SELECT user_id,
               ((epoch_us(ts) - s.t0) * 64) // (s.t1 - s.t0 + 1) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events,
             (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events) s
        GROUP BY 1, 2
      ), nr AS (
        SELECT user_id, CAST(sum(n * n) AS BIGINT) AS nn FROM sp GROUP BY 1
      ), dots AS (
        SELECT q.user_id AS q_user, b.user_id AS sim_user,
               CAST(sum(q.n * b.n) AS BIGINT) AS dot
        FROM sp q JOIN sp b
          ON q.bucket = b.bucket AND q.user_id % 5 = 0 AND b.user_id <> q.user_id
        GROUP BY 1, 2
      )
      SELECT d.q_user, d.sim_user, d.dot,
             CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS cos
      FROM dots d JOIN nr nq ON d.q_user = nq.user_id
                  JOIN nr nb ON d.sim_user = nb.user_id
      WHERE CAST(d.dot AS HUGEINT) * d.dot * 100 >= CAST(nq.nn AS HUGEINT) * nb.nn * 49
      ORDER BY q_user, sim_user""",
    "q33_session_funnel" -> """
      WITH gaps AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
          lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
        FROM events
      ), se AS (
        SELECT user_id, event_id, event_type, ts_us,
          sum(CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
      ), v AS (
        SELECT user_id, sid, min(ts_us) AS tv FROM se
        WHERE event_type = 'view' GROUP BY 1, 2
      ), c AS (
        SELECT s.user_id, s.sid, min(s.ts_us) AS tc
        FROM se s JOIN v ON s.user_id = v.user_id AND s.sid = v.sid
        WHERE s.event_type = 'click' AND s.ts_us > v.tv GROUP BY 1, 2
      ), p AS (
        SELECT s.user_id, s.sid, min(s.ts_us) AS tp
        FROM se s JOIN c ON s.user_id = c.user_id AND s.sid = c.sid
        WHERE s.event_type = 'purchase' AND s.ts_us > c.tc GROUP BY 1, 2
      ), ps AS (
        SELECT DISTINCT user_id, sid FROM se
      )
      SELECT ps.user_id,
        CAST(count(*) AS BIGINT) AS n_sessions,
        CAST(sum(CASE WHEN v.tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        CAST(sum(CASE WHEN c.tc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
        CAST(sum(CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel,
        CAST(sum(CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS funnel_frac
      FROM ps
      LEFT JOIN v ON ps.user_id = v.user_id AND ps.sid = v.sid
      LEFT JOIN c ON ps.user_id = c.user_id AND ps.sid = c.sid
      LEFT JOIN p ON ps.user_id = p.user_id AND ps.sid = p.sid
      GROUP BY ps.user_id ORDER BY ps.user_id""",
    "q34_rate_anomaly" -> """
      WITH s AS (
        SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events
      ), cnt AS (
        SELECT event_type,
               ((epoch_us(ts) - s.t0) * 64) // (s.t1 - s.t0 + 1) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events, s GROUP BY 1, 2
      ), grid AS (
        SELECT et.event_type, g.bucket, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        FROM (SELECT DISTINCT event_type FROM cnt) et
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bucket) g
        LEFT JOIN cnt c ON c.event_type = et.event_type AND c.bucket = g.bucket
      ), st AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS sm,
               CAST(sum(n * n) AS BIGINT) AS ss
        FROM grid GROUP BY 1
      )
      SELECT g.event_type, CAST(g.bucket AS BIGINT) AS bucket, g.n,
             CAST((64 * g.n - st.sm) * (64 * g.n - st.sm) AS BIGINT) AS dev2,
             CAST(9 * (64 * st.ss - st.sm * st.sm) AS BIGINT) AS thr,
             (64 * g.n - st.sm) * (64 * g.n - st.sm) > 9 * (64 * st.ss - st.sm * st.sm) AS is_anomaly
      FROM grid g JOIN st ON g.event_type = st.event_type
      ORDER BY g.event_type, g.bucket""",
    "q35_event_cooccurrence" -> """
      WITH ue AS (
        SELECT DISTINCT user_id, event_type FROM events
      ), singles AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_single FROM ue GROUP BY 1
      ), nu AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ue
      ), p AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM ue a JOIN ue b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
      )
      SELECT p.type_a, p.type_b, p.n_ab,
             na.n_single AS n_a, nb.n_single AS n_b, nu.n_users,
             CAST(p.n_ab * nu.n_users AS DOUBLE) / (na.n_single * nb.n_single) AS lift
      FROM p
      JOIN singles na ON p.type_a = na.event_type
      JOIN singles nb ON p.type_b = nb.event_type
      CROSS JOIN nu
      ORDER BY p.type_a, p.type_b""",
    "q36_event_transitions" -> """
      WITH o AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
        FROM events
      ), tr AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n_trans
        FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2
      ), fr AS (
        SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS n_from FROM tr GROUP BY 1
      )
      SELECT t.prev_type, t.next_type, t.n_trans, f.n_from,
             CAST(t.n_trans AS DOUBLE) / f.n_from AS prob
      FROM tr t JOIN fr f ON t.prev_type = f.prev_type
      ORDER BY t.prev_type, t.next_type""",
    "q04_order_priority" -> """
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
        AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q18_large_volume_customer" -> s"""
      WITH big AS (
        SELECT l_orderkey, CAST(sum($qtyC) AS DOUBLE) / 100 AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum($qtyC) > 30000
      )
      SELECT c_custkey, c_name, l_orderkey,
        CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_orderdate, total_qty
      FROM big
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY total_qty DESC, l_orderkey LIMIT 50""",
    "q12_rollup_revenue" -> s"""
      SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        CAST(sum($revU) AS DOUBLE) / 10000 AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY rf, ls""",
    "q17_small_qty_revenue" -> s"""
      WITH per_part AS (
        SELECT l_partkey, CAST(sum($qtyC) AS BIGINT) AS sum_qty_c,
               CAST(count(*) AS BIGINT) AS n_li
        FROM lineitem GROUP BY 1
      )
      SELECT CAST(sum($priceC) AS DOUBLE) / 100 AS revenue,
             CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN per_part USING (l_partkey)
      WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        AND $qtyC * 5 * n_li < sum_qty_c""",
    "q19_disjunctive_revenue" -> s"""
      SELECT CAST(sum($revU) AS DOUBLE) / 10000 AS revenue,
             CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_quantity <= 30 AND (
        (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11) OR
        (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20) OR
        (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 30))""",
    "q21_waiting_suppliers" -> """
      WITH flags AS (
        SELECT l_orderkey, l_suppkey,
               max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
        FROM lineitem GROUP BY 1, 2
      ), ord_stats AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_supp,
               CAST(sum(ret) AS BIGINT) AS n_ret
        FROM flags GROUP BY 1
      )
      SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM flags f
      JOIN ord_stats o ON f.l_orderkey = o.l_orderkey
      JOIN supplier ON f.l_suppkey = s_suppkey
      WHERE f.ret = 1 AND o.n_supp >= 2 AND o.n_ret = 1
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""",
    "q22_balance_opportunity" -> """
      WITH bal AS (
        SELECT c_custkey, c_nationkey,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
        FROM customer
      ), avg_pos AS (
        SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c, CAST(count(*) AS BIGINT) AS n_pos
        FROM bal WHERE bal_c > 0
      )
      SELECT c_nationkey AS cntry, CAST(count(*) AS BIGINT) AS n_cust,
             CAST(sum(bal_c) AS DOUBLE) / 100 AS total_bal
      FROM bal, avg_pos
      WHERE bal_c * n_pos > sum_c
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY 1 ORDER BY 1""",
    "q02_min_cost_supplier" -> s"""
      WITH ps AS (
        SELECT l_partkey, l_suppkey, CAST(min($priceC) AS BIGINT) AS cost_c
        FROM lineitem GROUP BY 1, 2
      ), winners AS (
        SELECT * FROM (
          SELECT ps.*, min(cost_c) OVER (PARTITION BY l_partkey) AS min_c FROM ps) q
        WHERE cost_c = min_c
      )
      SELECT p_partkey, p_name, s_name, n_name,
             CAST(cost_c AS DOUBLE) / 100 AS min_cost
      FROM winners
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_type = 'ECONOMY' AND p_size <= 15
      ORDER BY p_partkey, s_name""",
    "q09_product_type_profit" -> s"""
      SELECT n_name,
        CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
        CAST(sum($revU - CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) * $qtyC) AS DOUBLE) / 10000 AS profit,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      WHERE p_name LIKE '%widget%'
      GROUP BY 1, 2 ORDER BY n_name, o_year DESC""",
    "q16_supplier_parts_count" -> """
      SELECT p_brand, p_type, p_size,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q20_part_promotion" -> s"""
      WITH shipped AS (
        SELECT l_partkey, l_suppkey, CAST(sum($qtyC) AS BIGINT) AS pair_qty_c
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        GROUP BY 1, 2
      ), totals AS (
        SELECT l_partkey, CAST(sum(pair_qty_c) AS BIGINT) AS total_qty_c,
               CAST(count(*) AS BIGINT) AS n_supp
        FROM shipped GROUP BY 1
      ), promo AS (
        SELECT DISTINCT l_suppkey
        FROM shipped JOIN totals USING (l_partkey)
        WHERE pair_qty_c * 2 > total_qty_c AND n_supp >= 3
          AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      )
      SELECT s_suppkey, s_name, n_name
      FROM promo
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      ORDER BY s_suppkey""",
    "q28_promo_window" -> s"""
      WITH pts AS (
        SELECT l_suppkey,
          CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
          $revU AS rev_u
        FROM lineitem
      ), win AS (
        SELECT l_suppkey, min(d) AS w_start, min(d) + 14 AS w_end
        FROM pts GROUP BY 1
      )
      SELECT p.l_suppkey, w.w_start,
        CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(p.rev_u) AS DOUBLE) / 10000 AS window_revenue
      FROM pts p JOIN win w
        ON p.l_suppkey = w.l_suppkey AND w.w_start <= p.d AND p.d < w.w_end
      GROUP BY 1, 2 ORDER BY p.l_suppkey""",
    "q27_stats_moments" -> """
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(bal_c) AS DOUBLE) / count(*) / 100 AS mean_bal,
        CAST(count(*) * sum(bal_c * bal_c) - sum(bal_c) * sum(bal_c) AS DOUBLE)
          / (CAST(count(*) AS DOUBLE) * count(*)) / 10000 AS var_bal
      FROM (SELECT c_mktsegment,
              CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
            FROM customer) q
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q26_cube_mix" -> """
      SELECT coalesce(source, 'ALL') AS src, coalesce(lang, 'ALL') AS lng,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words
      FROM documents GROUP BY CUBE (source, lang)
      ORDER BY src, lng""",
    "q25_skew_salted" -> s"""
      SELECT s_name, CAST(sum($revU) AS DOUBLE) / 10000 AS revenue,
             CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name ORDER BY s_name""",
    "q24_window_suite" -> s"""
      WITH base AS (
        SELECT l_suppkey, CAST(CAST(l_shipdate AS DATE) AS STRING) AS ship_date,
               l_orderkey, l_linenumber, $revU AS rev_u
        FROM lineitem
      )
      SELECT l_suppkey, ship_date, l_orderkey, l_linenumber, rev_u,
        CAST(row_number() OVER w AS BIGINT) AS rn,
        CAST(rank() OVER w AS BIGINT) AS rnk,
        CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        lag(rev_u, 1) OVER w AS prev_rev,
        lead(rev_u, 1) OVER w AS next_rev,
        first_value(rev_u) OVER w AS first_rev,
        CAST(count(*) OVER w AS BIGINT) AS run_cnt
      FROM base
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY ship_date, l_orderkey, l_linenumber, rev_u)
      ORDER BY l_suppkey, rn""",
    "q13_semi_anti_join" -> """
      WITH flags AS (
        SELECT c_mktsegment, c_custkey,
          c_custkey IN (SELECT o_custkey FROM orders) AS has_o
        FROM customer
      )
      SELECT c_mktsegment,
        CAST(sum(CASE WHEN has_o THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
        CAST(sum(CASE WHEN has_o THEN 0 ELSE 1 END) AS BIGINT) AS n_without_orders
      FROM flags GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q14_set_ops" -> """
      WITH c96 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01' AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      ), c97 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01' AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      )
      SELECT
        CAST((SELECT count(*) FROM (SELECT * FROM c96 UNION SELECT * FROM c97) u) AS BIGINT) AS n_union,
        CAST((SELECT count(*) FROM (SELECT * FROM c96 INTERSECT SELECT * FROM c97) i) AS BIGINT) AS n_intersect,
        CAST((SELECT count(*) FROM (SELECT * FROM c96 EXCEPT SELECT * FROM c97) e) AS BIGINT) AS n_only_1996,
        CAST((SELECT count(*) FROM (SELECT * FROM c97 EXCEPT SELECT * FROM c96) e) AS BIGINT) AS n_only_1997""",
    "q15_asof_heartbeat" -> """
      WITH ev AS (
        SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM events
      ), hb AS (
        SELECT ts_us AS hb_ts_us, max(event_id) AS hb_serial
        FROM ev WHERE event_type = 'view' GROUP BY ts_us
      ), dat AS (
        SELECT event_id, ts_us FROM ev WHERE event_type <> 'view'
      )
      SELECT d.event_id, d.ts_us, h.hb_ts_us, h.hb_serial
      FROM dat d ASOF LEFT JOIN hb h ON d.ts_us >= h.hb_ts_us
      ORDER BY d.event_id""",
    "q29_cohort_retention" -> """
      WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      ), coh AS (
        SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day
        FROM ud
      ), grid AS (
        SELECT cohort_day, day - cohort_day AS day_offset,
               CAST(count(*) AS BIGINT) AS n_users
        FROM coh GROUP BY 1, 2
      ), sized AS (
        SELECT cohort_day, day_offset, n_users,
          max(CASE WHEN day_offset = 0 THEN n_users END)
            OVER (PARTITION BY cohort_day) AS cohort_size
        FROM grid
      )
      SELECT cohort_day, day_offset, n_users, cohort_size,
        CAST(n_users AS DOUBLE) / cohort_size AS retention
      FROM sized ORDER BY cohort_day, day_offset""",
    "q30_conversion_funnel" -> """
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
      ), s1 AS (
        SELECT user_id, min(ts_us) AS t FROM ev
        WHERE event_type = 'signup' GROUP BY 1
      ), s2 AS (
        SELECT e.user_id, min(e.ts_us) AS t
        FROM ev e JOIN s1 p ON e.user_id = p.user_id
        WHERE e.event_type = 'view' AND e.ts_us > p.t GROUP BY 1
      ), s3 AS (
        SELECT e.user_id, min(e.ts_us) AS t
        FROM ev e JOIN s2 p ON e.user_id = p.user_id
        WHERE e.event_type = 'click' AND e.ts_us > p.t GROUP BY 1
      ), s4 AS (
        SELECT e.user_id, min(e.ts_us) AS t
        FROM ev e JOIN s3 p ON e.user_id = p.user_id
        WHERE e.event_type = 'purchase' AND e.ts_us > p.t GROUP BY 1
      ), n AS (
        SELECT (SELECT count(*) FROM s1) AS n1, (SELECT count(*) FROM s2) AS n2,
               (SELECT count(*) FROM s3) AS n3, (SELECT count(*) FROM s4) AS n4
      )
      SELECT stage, n_users, conv_frac FROM (
        SELECT '1_signup' AS stage, CAST(n1 AS BIGINT) AS n_users,
               CASE WHEN n1 = 0 THEN NULL ELSE CAST(n1 AS DOUBLE) / n1 END AS conv_frac FROM n
        UNION ALL SELECT '2_view', CAST(n2 AS BIGINT),
               CASE WHEN n1 = 0 THEN NULL ELSE CAST(n2 AS DOUBLE) / n1 END FROM n
        UNION ALL SELECT '3_click', CAST(n3 AS BIGINT),
               CASE WHEN n1 = 0 THEN NULL ELSE CAST(n3 AS DOUBLE) / n1 END FROM n
        UNION ALL SELECT '4_purchase', CAST(n4 AS BIGINT),
               CASE WHEN n1 = 0 THEN NULL ELSE CAST(n4 AS DOUBLE) / n1 END FROM n
      ) u ORDER BY stage""",
    "q31_zorder_cells" -> {
      // the same bit-interleave as ZOrder.zExpr, in DuckDB operator syntax
      val zDuck = (0 until graft.data.ZOrder.Bits).map { i =>
        s"(((zx >> $i) & 1) << ${2 * i}) + (((zy >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" + ")
      s"""
      WITH keyed AS (
        SELECT CAST(l_partkey % 65536 AS BIGINT) AS zx,
               CAST(l_suppkey % 65536 AS BIGINT) AS zy,
               l_partkey
        FROM lineitem
      ), zc AS (
        SELECT l_partkey, $zDuck AS z FROM keyed
      )
      SELECT z >> 16 AS zbucket,
        CAST(count(*) AS BIGINT) AS n_rows,
        min(z) AS z_min, max(z) AS z_max,
        CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
      FROM zc GROUP BY 1 ORDER BY 1"""
    }
  )
}
