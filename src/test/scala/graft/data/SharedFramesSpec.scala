package graft.data

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.Tables
import org.scalatest.funsuite.AnyFunSuite

/** SharedFrames contract: one compute per (input plan, tag) key even under
  * concurrent first use (a concurrent server must never double-pay the
  * dedup chain), and structural — not hashCode — keying. */
class SharedFramesSpec extends AnyFunSuite {

  private lazy val spark = Tables.session("shared-frames-spec", "4")

  test("concurrent first use evaluates compute exactly once") {
    val input = Tables.documents(spark, "/root/testdata/sf0.001")
    val evals = new AtomicInteger(0)
    val ready = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            ready.await(10, TimeUnit.SECONDS)
            SharedFrames.memo(input, "race-test") {
              evals.incrementAndGet()
              input.limit(5).toDF()
            }.count()
          }
        })
      }
      ready.countDown() // release all 8 threads into memo at once
      val counts = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(counts.toSet == Set(5L), s"all callers must see the one frame: $counts")
      assert(evals.get() == 1,
        s"compute ran ${evals.get()} times under concurrent first use; must be exactly 1")
    } finally pool.shutdownNow()
  }

  test("distinct inputs get distinct entries; same input+tag is shared") {
    SharedFrames.clear()
    val a = Tables.documents(spark, "/root/testdata/sf0.001")
    val b = Tables.documents(spark, "/root/testdata/sf0.001").limit(3)
    val fa1 = SharedFrames.memo(a, "key-test")(a.limit(5).toDF())
    val fa2 = SharedFrames.memo(a, "key-test")(a.limit(7).toDF()) // must NOT recompute
    val fb = SharedFrames.memo(b, "key-test")(b.toDF())
    // both callers read the ONE materialization (same checkpoint scan
    // below the per-call re-aliasing projection)...
    assert(fa1.queryExecution.analyzed.children == fa2.queryExecution.analyzed.children,
      "same (plan, tag) must share the one materialized checkpoint")
    // ...but each call mints fresh attribute ids, so two returns of the
    // same entry can meet in one query without tripping Spark's
    // ambiguous-self-join detection (quantized → cellAssigned class)
    assert(fa1.queryExecution.analyzed.output.map(_.exprId) !=
      fa2.queryExecution.analyzed.output.map(_.exprId),
      "per-call returns must carry fresh attribute ids")
    assert(fa1.join(fa2.withColumnRenamed("doc_id", "d2"),
      fa1("doc_id") === org.apache.spark.sql.functions.col("d2")).count() == 5,
      "two returns of one entry must be joinable (no ambiguous-self-join trip)")
    assert(fa2.count() == 5, "second caller must get the FIRST computation")
    assert(fb.count() == 3, "a structurally different input plan is its own key")
    assert(SharedFrames.size == 2)
    SharedFrames.clear()
    assert(SharedFrames.size == 0)
  }

  test("build seconds sum every concurrent build of a tag; clear() resets them") {
    SharedFrames.clear()
    val ready = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      // eight distinct inputs under ONE tag, builds finishing together
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            ready.await(10, TimeUnit.SECONDS)
            SharedFrames.memoValue(spark.range(i).toDF(), "build-log-test") {
              Thread.sleep(200); i
            }
          }
        })
      }
      ready.countDown()
      assert(futures.map(_.get(60, TimeUnit.SECONDS)) == (1 to 8))
      val secs = SharedFrames.buildSeconds("build-log-test")
      assert(secs >= 8 * 0.2, s"concurrent builds lost increments: $secs s for 8 × 0.2 s")
    } finally pool.shutdownNow()
    SharedFrames.clear()
    assert(!SharedFrames.buildSeconds.contains("build-log-test"),
      "clear() must reset the per-tag build seconds")
  }
}
