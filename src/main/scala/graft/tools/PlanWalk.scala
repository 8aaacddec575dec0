package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

/** Executed-plan audit helpers shared by the scale rehearsals
  * ([[ScaleRehearsal]], [[StreamRehearsal]]): walk an
  * AQE plan through its materialized query stages, enumerate the realized
  * broadcasts with their runtime-measured sizes, and flag the two
  * scale-killer shapes (cartesian products, unbounded nested-loop joins).
  *
  * Factored out in r12 so the streaming rehearsal audits each
  * micro-batch's `IncrementalExecution.executedPlan` with the SAME rules
  * the batch rehearsals apply — a divergent re-implementation here would
  * quietly weaken one side's gate.
  */
object PlanWalk {

  /** Execute a frame THROUGH ITS OWN QueryExecution (ADVICE r4, medium):
    * `DataFrameWriter.save` wraps the plan in a SEPARATE QueryExecution,
    * so the AdaptiveSparkPlanExec visible on `df.queryExecution` never
    * actually ran — AQE's runtime join flips and the BroadcastExchange
    * `dataSize` metrics the rehearsals gate on would be read off an
    * un-executed plan. `toRdd` forces AdaptiveSparkPlanExec to pick its
    * final physical plan on exactly the instance we subsequently walk,
    * and draining every partition populates the SQL metrics. */
  def execute(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  /** Every node of an EXECUTED plan, descending through the three leaf
    * wrappers that hide subtrees: AdaptiveSparkPlanExec (the final plan),
    * QueryStageExec (a materialized exchange — under AQE every executed
    * Broadcast/ShuffleExchange hides inside one, so a walk that only
    * descends `children` reports zero broadcasts on any executed plan),
    * and ReusedExchangeExec (points back at an exchange built elsewhere —
    * without descending it, a nested-loop join whose build side is a
    * REUSED broadcast audits as "no broadcast found" and the size gate
    * can't run). */
  def walk(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children.flatMap(walk) ++ (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ => Nil
    }))

  def broadcastSizes(nodes: Seq[SparkPlan]): Seq[Long] =
    nodes.collect { case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(-1L)
    }

  /** One realized broadcast, NAMED: `bytes` is the HashedRelation's
    * runtime `dataSize` metric — which reports ALLOCATED memory
    * (BytesToBytesMap pages are power-of-two-quantized, so a KB-content
    * frame can report its minimum page, e.g. ~64 MiB on a large heap),
    * NOT content bytes — so `rows` (the exchange's numOutputRows) is the
    * scale-honest content measure, and `frame` (the build side's output
    * columns) identifies WHICH frame was broadcast so an artifact reader
    * can match it to the plan (VERDICT r11 what's-wrong #1). */
  final case class Bcast(bytes: Long, rows: Long, frame: String,
      fixedRowBytes: Long) {
    /** Exact content bytes when every column is fixed-width (UnsafeRow:
      * one 8 B null-bitset word per 64 fields + 8 B per field slot —
      * variable-width columns make content unknowable from metrics,
      * flagged as -1). */
    def contentBytes: Long =
      if (fixedRowBytes < 0 || rows < 0) -1L else rows * fixedRowBytes
    def json: String =
      s"""{"bytes":$bytes,"rows":$rows,"content":$contentBytes,""" +
        s""""frame":"${jsonEscape(frame)}"}"""
  }

  /** Minimal JSON string escaping for interpolated fragments (column
    * names can legally carry quotes/backslashes — an unescaped one
    * would corrupt the whole BENCH artifact). */
  def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def broadcasts(nodes: Seq[SparkPlan]): Seq[Bcast] =
    nodes.collect { case b: BroadcastExchangeExec =>
      import org.apache.spark.sql.types._
      val fixed = b.child.output.forall(_.dataType match {
        case BooleanType | ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | DateType | TimestampType |
             TimestampNTZType => true
        case d: DecimalType => d.precision <= 18 // compact (long-backed)
        case _ => false
      })
      val n = b.child.output.size
      Bcast(
        b.metrics.get("dataSize").map(_.value).getOrElse(-1L),
        b.metrics.get("numOutputRows").map(_.value).getOrElse(-1L),
        b.child.output.map(_.name).take(8).mkString(","),
        // UnsafeRow layout: ceil(nFields/64) null-bitset words, then one
        // 8 B slot per field (a flat 8 B header would UNDERestimate any
        // >64-column frame and quietly weaken the exact-content arm)
        if (fixed) 8L * ((n + 63) / 64) + 8L * n else -1L)
    }

  /** The shared broadcast-size gate (r12): a realized broadcast is
    * bounded iff one of three arms holds —
    *   (a) measured `dataSize` ≤ byteCap, or
    *   (b) row count ≤ rowCap (literal/offset/artifact frames), or
    *   (c) every column is fixed-width, so rows × UnsafeRow width IS the
    *       exact content, and that content ≤ byteCap.
    * Why three arms: `dataSize` reports the HashedRelation's ALLOCATED
    * memory, and BytesToBytesMap pages are sized from the heap (64 MiB
    * pages on this box's 96 GB rehearsal JVM, 8 MiB under the 8 GB sbt
    * JVM) — so a 20-row frame "measures" 64 MiB and the SAME artifact
    * passes or fails a bytes-only cap depending on which JVM ran it
    * (exactly what happened to the r8 vector cap: the r11 artifact
    * carries 67 MB values that its own 32 MB gate should have failed —
    * the rc=1 was lost in run-script pipelines).
    *
    * r13 (VERDICT r12 #1a): the rows arm alone could mask a FAT frame —
    * a sub-cap row count whose columns are variable-width (content
    * unknowable, -1) gated as bounded no matter how many megabytes each
    * string value carried. When content is unknowable, the rows arm now
    * ALSO requires `bytes ≤ byteCap + MaxPageBytes`: `dataSize`
    * over-reports (allocated ≥ content, by at most one partially-filled
    * page, and Spark caps the BytesToBytesMap/LongToUnsafeRowMap page
    * size at 64 MiB on any heap), so it is a sound portable UPPER bound
    * for exactly this backstop even though it can never be a lower-bound
    * gate. A fixed-width frame keeps the plain rows arm: its content is
    * already exactly known and bounded by rowCap × row width. An
    * unmeasured broadcast (bytes = -1) with unknowable content fails all
    * arms regardless of rows. */
  def bounded(b: Bcast, rowCap: Long, byteCap: Long): Boolean = {
    val rowsArm = b.rows >= 0 && b.rows <= rowCap &&
      (b.contentBytes >= 0 ||
        (b.bytes >= 0 && b.bytes <= byteCap + MaxPageBytes))
    (b.bytes >= 0 && b.bytes <= byteCap) ||
      (b.contentBytes >= 0 && b.contentBytes <= byteCap) ||
      rowsArm
  }

  /** Spark's hard ceiling on a memory-manager page
    * (`MemoryManager.pageSizeBytes` clamps to 64 MiB): the one-page
    * allocation quantum the rows arm's byte backstop must tolerate on
    * ANY heap — the 96 GB rehearsal JVM allocates 64 MiB pages, the
    * 8 GB sbt JVM 8 MiB ones, and both stay under content + this. */
  val MaxPageBytes: Long = 64L << 20

  /** A BroadcastNestedLoopJoin build side above this is fatal even when
    * measured: the physical form of crossJoin(broadcast(x)) is safe only
    * for k-bounded scalar/centroid attaches, never a corpus-scaled
    * frame. */
  val BnljBuildCap: Long = 16L << 20

  /** Scale-killer audit. CartesianProduct is always fatal. A
    * BroadcastNestedLoopJoin is the PHYSICAL form of every
    * crossJoin(broadcast(bounded-frame)) — centroid assignment, scalar
    * attach — so it is fatal only when its build side is UNMEASURED or
    * measured large: a corpus-scaled build frame is the driver-OOM shape
    * regardless of the loop itself. */
  def planKillers(nodes: Seq[SparkPlan]): Seq[String] = {
    val cart = nodes.map(_.nodeName).filter(_.contains("CartesianProduct"))
    val bnlj = nodes.filter(_.nodeName.contains("BroadcastNestedLoop")).flatMap { n =>
      val sizes = walk(n).collect { case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(-1L)
      }
      if (sizes.isEmpty || sizes.exists(s => s < 0 || s > BnljBuildCap))
        Seq(s"BroadcastNestedLoopJoin(build=${sizes.mkString("/")}B)")
      else Nil
    }
    cart ++ bnlj
  }
}
