package graft.pipeline

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** Orchestration layer (§2.9): dynamic fan-out, dependency chaining,
  * concurrency cap, retry — the Airflow-isms of the reference
  * (`themovies.py:117-150`, `example_expand.py:11-23`) re-expressed as
  * concurrent Spark jobs in one SparkSession.
  *
  * Spark is thread-safe for concurrent actions; each endpoint's
  * extract->transform->load composition is one lazy plan, submitted from
  * its own thread (the analog of one mapped Airflow task instance), with
  * intra-job parallelism handled by partitioning.
  */
object Pipeline {

  final case class RetryPolicy(retries: Int = 1, delayMillis: Long = 3000)
  // mirrors themovies.py:117-122 (retries: 1, retry_delay: 3s)

  /** Run `job` with the retry policy; rethrows the last failure. */
  def withRetry[T](policy: RetryPolicy)(job: () => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= policy.retries) {
      Try(job()) match {
        case Success(v) => return v
        case Failure(e) =>
          last = e
          attempt += 1
          if (attempt <= policy.retries) Thread.sleep(policy.delayMillis)
      }
    }
    throw last
  }

  /** Dynamic fan-out (O1) with a concurrency cap (O3,
    * `max_active_tis_per_dagrun` analog) and per-branch retry (O4).
    * The cap is the size of the fixed thread pool the branches run on.
    * Returns results in input order; fails fast if any branch exhausts its
    * retries.
    */
  def fanOut[A, B](
      inputs: Seq[A],
      maxConcurrent: Int = 2,
      retry: RetryPolicy = RetryPolicy())(job: A => B): Seq[B] = {
    require(maxConcurrent >= 1, s"maxConcurrent must be >= 1, got $maxConcurrent")
    val pool = Executors.newFixedThreadPool(maxConcurrent)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = inputs.map(in => Future(withRetry(retry)(() => job(in))))
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
  }
}
