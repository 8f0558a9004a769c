package graft

import org.apache.spark.sql.functions._
import graft.operators.Parallelism

/** The r19 concurrency helpers (guide §2.6 job overlap) and the
  * Tables relation-handle cache: results, exception propagation and
  * handle identity — the contracts the ANN/LM/graph lifecycle
  * queries now lean on. */
class ParallelismSpec extends SparkSpec {
  import spark.implicits._

  test("join2 returns both results; both sides really ran") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val (a, b) = Parallelism.join2(
      { hits.incrementAndGet(); 1 + 1 },
      { hits.incrementAndGet(); "x" * 3 })
    assert(a === 2 && b === "xxx" && hits.get === 2)
  }

  test("join2 propagates a failure from either side after both finish") {
    val bRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e1 = intercept[IllegalStateException] {
      Parallelism.join2(
        throw new IllegalStateException("left"),
        { bRan.set(true); 7 })
    }
    assert(e1.getMessage === "left")
    assert(bRan.get, "the surviving side must still complete")
    val e2 = intercept[IllegalStateException] {
      Parallelism.join2(42, throw new IllegalStateException("right"))
    }
    assert(e2.getMessage === "right")
  }

  test("both sides fail: the earliest-listed failure wins, whichever failed first") {
    // the second thunk fails at once; the first fails only after it,
    // with a pause that lets the second's failure be recorded first
    val secondFailed = new java.util.concurrent.CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      Parallelism.join2(
        { secondFailed.await(); Thread.sleep(100)
          throw new IllegalStateException("first") },
        { try throw new IllegalStateException("second")
          finally secondFailed.countDown() })
    }
    assert(e.getMessage === "first")
    val runAllFailed = new java.util.concurrent.CountDownLatch(1)
    val e2 = intercept[RuntimeException] {
      Parallelism.runAll(Seq(
        () => { runAllFailed.await(); Thread.sleep(100)
          throw new RuntimeException("one") },
        () => { try throw new RuntimeException("two")
          finally runAllFailed.countDown() }))
    }
    assert(e2.getMessage === "one")
  }

  test("join2 overlaps Spark actions correctly (independent counts)") {
    val (n1, n2) = Parallelism.join2(
      spark.range(1000).filter(col("id") % 2 === 0).count(),
      spark.range(1000).filter(col("id") % 5 === 0).count())
    assert(n1 === 500L && n2 === 200L)
  }

  test("runAll runs every thunk; first failure rethrown after all join") {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    Parallelism.runAll((1 to 5).map(i => () => { seen.add(i); () }))
    assert(seen.size === 5)
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val e = intercept[RuntimeException] {
      Parallelism.runAll(Seq(
        () => { ran.add(1); () },
        () => throw new RuntimeException("boom"),
        () => { ran.add(3); () }))
    }
    assert(e.getMessage === "boom")
    assert(ran.contains(1) && ran.contains(3),
      "non-failing thunks still complete before the rethrow")
    Parallelism.runAll(Seq.empty) // empty input is a no-op
  }

  test("Tables caches the relation handle per (session, path), not data") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tables_cache").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/customer.parquet")
    val t1 = Tables(spark, dir).customer
    val t2 = Tables(spark, dir).customer
    // same unexecuted handle — relation resolution ran once
    assert(t1 eq t2, "same (session, path) must return the cached handle")
    // and it is a HANDLE cache: actions still read the real files
    assert(t1.count() === 2L)
    assert(t2.select(sum(col("id"))).head.getLong(0) === 3L)
  }
}
