package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Paginated REST-style source (S1/S2).
  *
  * Reference semantics (`/root/reference/dags/flows/themovies.py:16-49`):
  * GET page N in a loop; stop cleanly on HTTP 400 (`success: false`,
  * `:34-35`); raise on any other non-200 (`:37-38`); accumulate the
  * `results[]` arrays; normalize list-of-dicts to a table (`:40-41,69`).
  *
  * Scale design: the reference fetches serially on one worker. Here the
  * driver probes page 1 for `total_pages`, then a `spark.range(1, pages+1)`
  * DataFrame fans the page fetches out across executors via mapPartitions
  * (each task holds one HTTP connection, Spark's task retry supplies the
  * reference's Airflow retry semantics) and the JSON bodies are normalized
  * in parallel with `from_json` + `explode` — no driver accumulation, no
  * single-process bottleneck.
  */
object Paginated {

  final case class FetchResult(status: Int, body: String)

  /** The transport seam. Implementations must be Serializable: executors
    * call `fetch` from within tasks. The real HTTP transport is an
    * environment concern; tests use fixture-backed fetchers.
    */
  trait PageFetcher extends Serializable {
    def fetch(endpoint: String, page: Int): FetchResult
  }

  /** TMDB-popular-shaped page payload schema (FIXTURES.md §A). */
  val movieSchema: StructType = StructType(Seq(
    StructField("adult", BooleanType),
    StructField("backdrop_path", StringType),
    StructField("genre_ids", ArrayType(IntegerType)),
    StructField("id", LongType),
    StructField("original_language", StringType),
    StructField("original_title", StringType),
    StructField("overview", StringType),
    StructField("popularity", DoubleType),
    StructField("poster_path", StringType),
    StructField("release_date", StringType),
    StructField("title", StringType),
    StructField("video", BooleanType),
    StructField("vote_average", DoubleType),
    StructField("vote_count", LongType)))

  def pageSchema(results: StructType): StructType = StructType(Seq(
    StructField("page", IntegerType),
    StructField("results", ArrayType(results)),
    StructField("total_pages", IntegerType),
    StructField("total_results", IntegerType)))

  /** Fetch every page of `endpoint` and normalize to one row per result
    * element, with a `page` provenance column.
    *
    * Page 1 is probed on the driver (to learn `total_pages` and fail fast
    * on auth errors); that probe is the only work done before an action.
    * Pages 2..n are fetched IN EXECUTORS when the result is first run:
    * `spark.range` cuts them into `min(n-1, fetchPartitions)` contiguous
    * slices, one fetch task each, with no shuffle in front (a round-robin
    * repartition would only spread page ids, at the price of a map stage
    * in every execution). Status semantics per reference: 400 => treat
    * page as past the end (empty), other non-200 => throw (task retry /
    * job fail).
    */
  def ingest(
      spark: SparkSession,
      fetcher: PageFetcher,
      endpoint: String,
      resultSchema: StructType = movieSchema,
      fetchPartitions: Int = 8): DataFrame = {
    import spark.implicits._
    require(fetchPartitions >= 1, s"fetchPartitions must be >= 1, got $fetchPartitions")
    val first = fetcher.fetch(endpoint, 1)
    if (first.status != 200)
      throw new IllegalStateException(
        s"endpoint $endpoint page 1 returned HTTP ${first.status}")
    val ps = pageSchema(resultSchema)
    val totalPages = {
      val parsed = spark.createDataset(Seq(first.body))
        .select(from_json(col("value"), ps).as("p"))
        .select(col("p.total_pages")).head()
      if (parsed.isNullAt(0)) 1 else parsed.getInt(0)
    }
    val bodies: Dataset[String] =
      if (totalPages <= 1) spark.createDataset(Seq(first.body))
      else {
        val rest = spark.range(2, totalPages + 1L, 1, math.min(totalPages - 1, fetchPartitions))
          .mapPartitions { pages =>
            pages.map { p =>
              val r = fetcher.fetch(endpoint, p.toInt)
              r.status match {
                case 200 => r.body
                case 400 => null // past-the-end guard page (themovies.py:34-35)
                case other =>
                  throw new IllegalStateException(
                    s"endpoint $endpoint page $p returned HTTP $other")
              }
            }.filter(_ != null)
          }
        spark.createDataset(Seq(first.body)).union(rest)
      }
    normalize(bodies.toDF("body"), resultSchema)
  }

  /** JSON page body -> one row per `results[]` element (S2: the
    * `pd.DataFrame(results)` normalization as `from_json` + `explode`).
    */
  def normalize(pages: DataFrame, resultSchema: StructType): DataFrame =
    pages
      .select(from_json(col("body"), pageSchema(resultSchema)).as("p"))
      .select(col("p.page").as("page"), explode(col("p.results")).as("r"))
      .select(col("page") +: resultSchema.fieldNames.toIndexedSeq.map(f => col(s"r.$f")): _*)

  /** Real HTTP transport over `java.net.http` — the reference's client
    * shape (`themovies.py:19-28`: bearer-token auth header, one GET per
    * page, `?page=N` query param). Status handling (400 = past-the-end
    * stop, other non-200 = fail) lives in [[ingest]], matching
    * `themovies.py:34-38`.
    *
    * Serialization: the case class ships only config to executors; the
    * HttpClient (not serializable) is rebuilt lazily once per JVM, so all
    * tasks of an executor share one connection pool.
    */
  final case class HttpPageFetcher(
      baseUrl: String,
      bearerToken: Option[String] = None,
      pageParam: String = "page",
      timeoutMillis: Long = 30000L) extends PageFetcher {
    @transient private lazy val client: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(timeoutMillis))
        .build()
    override def fetch(endpoint: String, page: Int): FetchResult = {
      val sep = if (endpoint.contains("?")) "&" else "?"
      val uri = java.net.URI.create(
        s"${baseUrl.stripSuffix("/")}/$endpoint$sep$pageParam=$page")
      val builder = java.net.http.HttpRequest.newBuilder(uri)
        .timeout(java.time.Duration.ofMillis(timeoutMillis))
        .GET()
      bearerToken.foreach(t => builder.header("Authorization", s"Bearer $t"))
      val resp = client.send(builder.build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      FetchResult(resp.statusCode(), resp.body())
    }
  }

  /** Deterministic synthetic movie-feed fetcher (no network): `pages` pages
    * of `perPage` movies with formulaic fields — drives tests and the
    * oracle-checked ingest query.
    */
  final case class SyntheticMovieFetcher(pages: Int, perPage: Int) extends PageFetcher {
    override def fetch(endpoint: String, page: Int): FetchResult = {
      if (page > pages) return FetchResult(400, """{"success": false}""")
      val rows = (0 until perPage).map { i =>
        val id = (page - 1).toLong * perPage + i
        s"""{"adult": false, "backdrop_path": null, "genre_ids": [${id % 5}, ${id % 7}],
           | "id": $id, "original_language": "en", "original_title": "t$id",
           | "overview": "o$id", "popularity": ${id % 100}.5, "poster_path": null,
           | "release_date": "2024-01-0${id % 9 + 1}", "title": "t$id", "video": false,
           | "vote_average": ${id % 10}.0, "vote_count": ${id * 3}}""".stripMargin.replace("\n", "")
      }
      FetchResult(200,
        s"""{"page": $page, "results": [${rows.mkString(",")}],
           | "total_pages": $pages, "total_results": ${pages * perPage}}""".stripMargin.replace("\n", ""))
    }
  }
}
