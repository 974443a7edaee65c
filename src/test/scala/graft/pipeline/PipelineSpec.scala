package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.{Merge, Tables}
import graft.Queries

class PipelineSpec extends SparkSuite {

  test("withRetry retries then succeeds") {
    val calls = new AtomicInteger(0)
    val out = Pipeline.withRetry(Pipeline.RetryPolicy(retries = 2, delayMillis = 1)) { () =>
      if (calls.incrementAndGet() < 3) throw new RuntimeException("flaky") else "ok"
    }
    assert(out == "ok" && calls.get() == 3)
  }

  test("withRetry exhausts and rethrows") {
    val calls = new AtomicInteger(0)
    val e = intercept[RuntimeException] {
      Pipeline.withRetry(Pipeline.RetryPolicy(retries = 1, delayMillis = 1)) { () =>
        calls.incrementAndGet(); throw new RuntimeException("always")
      }
    }
    assert(e.getMessage == "always" && calls.get() == 2)
  }

  test("fanOut caps concurrency") {
    val active = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    Pipeline.fanOut((1 to 8).toList, maxConcurrent = 2) { _ =>
      val now = active.incrementAndGet()
      maxSeen.updateAndGet(m => math.max(m, now))
      Thread.sleep(30)
      active.decrementAndGet()
    }
    assert(maxSeen.get() <= 2, s"saw ${maxSeen.get()} concurrent")
  }

  test("fanOut rejects a concurrency cap below 1") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // bounded wait: a cap that blocks instead of failing must fail this
    // test, not hang the suite
    val call = Future(Pipeline.fanOut(Seq(1), maxConcurrent = 0)(identity))(ExecutionContext.global)
    val e = intercept[IllegalArgumentException](Await.result(call, 30.seconds))
    assert(e.getMessage.contains("maxConcurrent"), e.getMessage)
  }

  test("concurrent per-partition merges equal the sequential global merge (O1)") {
    val orders = Tables.load(spark, sf, "orders")
    val delta = Queries.ordersDelta(orders)
    val global = Merge.merge(orders, delta, Seq("o_orderkey"))
    val parts = Pipeline.fanOut((0 until 4).toList, maxConcurrent = 4) { i =>
      Merge.merge(
        orders.where(pmod(col("o_custkey"), lit(4)) === i),
        delta.where(pmod(col("o_custkey"), lit(4)) === i),
        Seq("o_orderkey"))
    }
    val unioned = parts.reduce(_.unionByName(_))
    assert(unioned.count() == global.count())
    assert(unioned.exceptAll(global).count() == 0)
  }
}
