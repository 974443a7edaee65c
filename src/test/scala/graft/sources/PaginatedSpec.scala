package graft.sources

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.{Jobs, SparkSuite}
import graft.operators.Dedup

object PaginatedSpec {
  /** (page, task attempt id; -1 on the driver) of every fetch, per fetcher key. */
  val fetches = new ConcurrentHashMap[String, ConcurrentLinkedQueue[(Int, Long)]]()

  /** A synthetic feed that records each fetch (local mode: tasks share this JVM). */
  final case class CountingFetcher(key: String, pages: Int, perPage: Int) extends Paginated.PageFetcher {
    override def fetch(endpoint: String, page: Int): Paginated.FetchResult = {
      val task = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(-1L)
      fetches.computeIfAbsent(key, _ => new ConcurrentLinkedQueue()).add((page, task))
      Paginated.SyntheticMovieFetcher(pages, perPage).fetch(endpoint, page)
    }
  }

  def fetched(key: String): Seq[(Int, Long)] =
    Option(fetches.get(key)).map(_.asScala.toSeq).getOrElse(Seq.empty)
}

class PaginatedSpec extends SparkSuite {
  import spark.implicits._
  import PaginatedSpec._

  test("building dedup over an ingest fetches only page 1; one action fetches every other page once") {
    val f = CountingFetcher("dedup-once", pages = 9, perPage = 5)
    val (latest, jobs) = Jobs.counted(spark) {
      Dedup.byKeyLatest(Dedup.fullRow(Paginated.ingest(spark, f, "popular")), Seq("id"), Seq("page"))
    }
    assert(jobs == 0, s"building the plan submitted $jobs job(s)")
    assert(fetched(f.key).map(_._1) == Seq(1), "only the driver's page-1 probe runs before an action")
    assert(latest.select($"id").as[Long].collect().sorted.toSeq == (0L until 45L))
    assert(fetched(f.key).map(_._1).sorted == (1 to 9), "pages 2..9 fetched exactly once each")
  }

  test("pages are fetched in min(n-1, fetchPartitions) range slices, with no shuffle") {
    for ((pages, parts) <- Seq((9, 4), (3, 8), (2, 1))) {
      val f = CountingFetcher(s"slices-$pages-$parts", pages, perPage = 2)
      val df = Paginated.ingest(spark, f, "popular", fetchPartitions = parts)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      assert(plan.collectFirst { case e: ShuffleExchangeLike => e }.isEmpty)
      assert(df.count() == pages * 2L)
      val tasks = fetched(f.key).filter(_._1 > 1).map(_._2).distinct
      assert(tasks.size == math.min(pages - 1, parts) && !tasks.contains(-1L),
        s"$pages pages, fetchPartitions $parts: ${tasks.size} fetch tasks")
    }
  }

  test("fetchPartitions must be positive") {
    intercept[IllegalArgumentException] {
      Paginated.ingest(spark, Paginated.SyntheticMovieFetcher(3, 1), "popular", fetchPartitions = 0)
    }
  }

  test("ingest fetches all pages and normalizes results") {
    val out = Paginated.ingest(spark,
      Paginated.SyntheticMovieFetcher(pages = 3, perPage = 10), "popular")
    assert(out.count() == 30)
    assert(out.columns.contains("page") && out.columns.contains("id"))
    assert(out.select($"id").as[Long].collect().toSet == (0L until 30L).toSet)
  }

  test("single-page endpoint works without executor fan-out") {
    val out = Paginated.ingest(spark,
      Paginated.SyntheticMovieFetcher(pages = 1, perPage = 7), "now_playing")
    assert(out.count() == 7)
  }

  test("non-200/non-400 page 1 fails fast (reference error semantics)") {
    val failing = new Paginated.PageFetcher {
      override def fetch(endpoint: String, page: Int) = Paginated.FetchResult(503, "oops")
    }
    val e = intercept[IllegalStateException] {
      Paginated.ingest(spark, failing, "popular")
    }
    assert(e.getMessage.contains("503"))
  }

  test("executor-side non-200 fails the job (task retry semantics)") {
    val flaky = new Paginated.PageFetcher {
      override def fetch(endpoint: String, page: Int) =
        if (page == 1) Paginated.SyntheticMovieFetcher(3, 5).fetch(endpoint, page)
        else Paginated.FetchResult(500, "boom")
    }
    val e = intercept[org.apache.spark.SparkException] {
      Paginated.ingest(spark, flaky, "popular").count()
    }
    assert(e.getMessage.contains("500") || e.getCause != null)
  }

  test("genre_ids arrive as native array<int> (no JSON stringification)") {
    val out = Paginated.ingest(spark,
      Paginated.SyntheticMovieFetcher(pages = 1, perPage = 3), "popular")
    assert(out.schema("genre_ids").dataType.typeName == "array")
  }

  // ---- real HTTP transport against an in-process fixture server (zero
  // egress: JDK HttpServer on a loopback ephemeral port) ----

  private def withFixtureServer[A](
      handler: com.sun.net.httpserver.HttpExchange => Unit)(
      f: Int => A): A = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => handler(ex))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    try f(server.getAddress.getPort)
    finally server.stop(0)
  }

  private def pageOf(ex: com.sun.net.httpserver.HttpExchange): Int =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .collectFirst { case s if s.startsWith("page=") => s.stripPrefix("page=").toInt }
      .getOrElse(1)

  private def respond(ex: com.sun.net.httpserver.HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("HttpPageFetcher ingests over real HTTP with bearer auth (executor fan-out)") {
    val synth = Paginated.SyntheticMovieFetcher(pages = 3, perPage = 4)
    val auths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    withFixtureServer { ex =>
      auths.add(String.valueOf(ex.getRequestHeaders.getFirst("Authorization")))
      val r = synth.fetch("popular", pageOf(ex))
      respond(ex, r.status, r.body)
    } { port =>
      val out = Paginated.ingest(spark,
        Paginated.HttpPageFetcher(s"http://127.0.0.1:$port/api",
          bearerToken = Some("fixture-token")), "popular")
      assert(out.count() == 12)
      assert(out.select("id").distinct().count() == 12)
      assert(auths.size == 1 && auths.contains("Bearer fixture-token"))
    }
  }

  test("HttpPageFetcher: 400 past-the-end page is a clean stop (reference semantics)") {
    // server advertises 5 pages but only 3 exist; 4-5 answer HTTP 400
    val synth = Paginated.SyntheticMovieFetcher(pages = 3, perPage = 4)
    withFixtureServer { ex =>
      val p = pageOf(ex)
      if (p > 3) respond(ex, 400, """{"success": false}""")
      else {
        val r = synth.fetch("popular", p)
        respond(ex, 200, r.body.replace("\"total_pages\": 3", "\"total_pages\": 5"))
      }
    } { port =>
      val out = Paginated.ingest(spark,
        Paginated.HttpPageFetcher(s"http://127.0.0.1:$port/api"), "popular")
      assert(out.count() == 12) // pages 4-5 contributed nothing, no failure
    }
  }

  test("HttpPageFetcher: HTTP 500 mid-scan fails the job") {
    val synth = Paginated.SyntheticMovieFetcher(pages = 3, perPage = 4)
    withFixtureServer { ex =>
      val p = pageOf(ex)
      if (p == 3) respond(ex, 500, "boom")
      else { val r = synth.fetch("popular", p); respond(ex, r.status, r.body) }
    } { port =>
      val e = intercept[org.apache.spark.SparkException] {
        Paginated.ingest(spark,
          Paginated.HttpPageFetcher(s"http://127.0.0.1:$port/api"), "popular").count()
      }
      assert(e.getMessage.contains("500") || e.getCause != null)
    }
  }
}
