package graft

import scala.collection.mutable.ArrayBuffer

import graft.engine.{Bronze, Pipeline}

/** Retry semantics for the JDBC sink (S2/S4) and stage-level retry (O3) —
  * exercised without a database: the failure path (attempt counting, linear
  * backoff, rethrow-on-exhaustion) is what the reference's
  * `reporting.py:411-431` loop and the DAG's `retries=1` provide. */
class RetrySpec extends SparkSuite {

  test("jdbc sink: dead URL retries maxRetries attempts with linear backoff, then rethrows") {
    val df = spark.range(3).toDF("id")
    val retried = ArrayBuffer[Int]()
    val sleeps = ArrayBuffer[Long]()
    intercept[Exception] {
      Bronze.writeJdbc(df, "jdbc:postgresql://127.0.0.1:1/nope", "t", "u", "p",
        onRetry = (attempt, _) => retried += attempt,
        sleep = sleeps += _)
    }
    assert(retried.toSeq == Seq(1, 2), "attempts 1 and 2 fail and retry; attempt 3 rethrows")
    assert(sleeps.toSeq == Seq(1000L, 2000L), "linear backoff: 1s then 2s")
  }

  test("stage retry: transient failure succeeds on attempt 2 with hook notification") {
    var calls = 0
    val retried = ArrayBuffer[(String, Int)]()
    val out = Pipeline.withRetry("silver", maxRetries = 2,
      onRetry = (stage, attempt, _) => retried += (stage -> attempt)) {
      calls += 1
      if (calls == 1) throw new RuntimeException("transient")
      42
    }
    assert(out == 42 && calls == 2)
    assert(retried.toSeq == Seq("silver" -> 1))
  }

  test("stage retry: persistent failure rethrows after exhausting attempts") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Pipeline.withRetry("gold", maxRetries = 3) { calls += 1; throw new RuntimeException(s"boom $calls") }
    }
    assert(calls == 3)
    assert(e.getMessage == "boom 3", "the LAST attempt's failure propagates")
  }

  test("stage retry: delay between attempts uses the injectable sleeper") {
    val sleeps = ArrayBuffer[Long]()
    var calls = 0
    Pipeline.withRetry("bronze", maxRetries = 2, delayMs = 30L * 60 * 1000,
      sleep = sleeps += _) {
      calls += 1
      if (calls == 1) throw new RuntimeException("transient")
    }
    assert(sleeps.toSeq == Seq(30L * 60 * 1000), "reference parity: 30-min retry_delay")
  }
}
