package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Audit, Dedup, Merge, SchemaDrift, Sinks}
import graft.pipeline.Pipeline
import graft.sources.Paginated

/** Seeded TMDB-shaped feed plus a reference model of what the daily
  * dedup, drift and MERGE pipeline must leave in each destination table.
  *
  * Every endpoint-day serves [[PagesPerDay]] pages of 20 rows: new ids,
  * unchanged re-sends, changed re-sends (some flip a field between NULL
  * and a value), exact duplicates on the same page, and key duplicates
  * whose later-page row wins. Day [[AddColumnDay]] adds a `revenue`
  * column; day [[TypeChangeDay]] sends `vote_count` as a double. The
  * model applies the reference MERGE rules (null-safe change detection
  * over every non-key, non-audit column) independently of the program.
  */
object EtlGen {
  val Endpoints: Seq[String] = Seq("popular", "top_rated", "now_playing", "upcoming")
  val PerPage = 20
  val PagesPerDay = 10
  val DestRows = 5000
  val AddColumnDay = 3
  val TypeChangeDay = 4
  val Langs: IndexedSeq[String] = IndexedSeq("en", "fr", "de", "es", "ja", "ko", "hi", "it")
  private val Words = IndexedSeq("night", "city", "return", "last", "storm", "river", "dream",
    "shadow", "king", "road", "fire", "secret", "island", "song", "war", "light", "house", "game")

  /** Pages fetched by every [[DayFetcher]] in this JVM (local mode). */
  val fetches = new AtomicLong

  final case class DayFetcher(pages: Array[String]) extends Paginated.PageFetcher {
    override def fetch(endpoint: String, page: Int): Paginated.FetchResult = {
      fetches.incrementAndGet()
      if (page >= 1 && page <= pages.length) Paginated.FetchResult(200, pages(page - 1))
      else Paginated.FetchResult(400, """{"success": false}""")
    }
  }

  type Rec = Map[String, Any]

  val Base: StructType = Paginated.movieSchema
  def daySchema(day: Int): StructType =
    if (day == AddColumnDay) Base.add("revenue", DoubleType)
    else if (day == TypeChangeDay)
      StructType(Base.fields.map(f => if (f.name == "vote_count") f.copy(dataType = DoubleType) else f))
    else Base

  def stamp(day: Int): Timestamp =
    Timestamp.from(java.time.Instant.parse("2025-01-01T00:00:00Z").plusSeconds(86400L * day))

  def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0xBF58476D1CE4E5B9L + 17))

  private def words(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(Words(r.nextInt(Words.size))).mkString(" ")

  def movie(id: Long, r: SplittableRandom): Rec = {
    val title = words(r, 1 + r.nextInt(3))
    Map(
      "adult" -> (r.nextInt(20) == 0),
      "backdrop_path" -> (if (r.nextInt(4) == 0) null else s"/b${r.nextInt(1000000)}.jpg"),
      "genre_ids" -> Seq.fill(1 + r.nextInt(3))(r.nextInt(20)),
      "id" -> id,
      "original_language" -> Langs(r.nextInt(Langs.size)),
      "original_title" -> title,
      "overview" -> (if (r.nextInt(10) == 0) null else words(r, 8 + r.nextInt(12))),
      "popularity" -> r.nextInt(1000000) / 1000.0,
      "poster_path" -> (if (r.nextInt(5) == 0) null else s"/p${r.nextInt(1000000)}.jpg"),
      "release_date" -> f"20${10 + r.nextInt(15)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d",
      "title" -> title,
      "video" -> r.nextBoolean(),
      "vote_average" -> r.nextInt(101) / 10.0,
      "vote_count" -> r.nextInt(50000).toLong)
  }

  /** A changed re-send: one or two fields differ, some between NULL and a value. */
  def change(m: Rec, r: SplittableRandom): Rec = r.nextInt(5) match {
    case 0 => m.updated("overview", if (m("overview") == null) words(r, 10) else null)
    case 1 => m.updated("backdrop_path", if (m("backdrop_path") == null) s"/b${r.nextInt(1000000)}.jpg" else null)
    case 2 => m.updated("popularity", r.nextInt(1000000) / 1000.0)
    case 3 => m.updated("vote_count", m("vote_count").asInstanceOf[Long] + 1 + r.nextInt(100))
        .updated("vote_average", r.nextInt(101) / 10.0)
    case _ => m.updated("genre_ids", Seq.fill(1 + r.nextInt(3))(r.nextInt(20)))
  }

  private def jsonValue(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "null"
    case (s: String, _) => Json.str(s)
    case (b: Boolean, _) => b.toString
    case (xs: Seq[_], _) => xs.mkString("[", ",", "]")
    case (l: Long, DoubleType) => java.lang.Double.toString(l.toDouble)
    case (l: Long, _) => l.toString
    case (d: Double, _) => java.lang.Double.toString(d)
    case (other, _) => throw new IllegalArgumentException(s"no JSON for $other")
  }

  def pageJson(page: Int, pages: Int, rows: Seq[Rec], schema: StructType): String = {
    val body = rows.map(m => schema.fields.map(f => s"${Json.str(f.name)}: ${jsonValue(m.getOrElse(f.name, null), f.dataType)}")
      .mkString("{", ", ", "}")).mkString("[", ", ", "]")
    s"""{"page": $page, "results": $body, "total_pages": $pages, "total_results": ${pages * PerPage}}"""
  }

  /** What the model expects of one endpoint-day. */
  final case class Expect(inserted: Int, updated: Int, unchanged: Int, total: Int,
      langs: Map[String, Long], distinctKeys: Int, sourceRows: Int, sourceBytes: Long)

  final case class DayInput(day: Int, schema: StructType, pages: Array[String], expect: Expect)

  /** Destination table model for one endpoint. */
  final class Table(var cols: Seq[StructField], val rows: mutable.LinkedHashMap[Long, Rec])

  def initialCols: Seq[StructField] = Base.fields.toSeq :+ StructField(Audit.ColumnName, TimestampType)

  /** The reference's MERGE over aligned schemas, applied to the model. */
  def applyBatch(t: Table, winners: Seq[Rec], schema: StructType, day: Int): (Int, Int, Int) = {
    val incoming = schema.fields.toSeq :+ StructField(Audit.ColumnName, TimestampType)
    val incomingNames = incoming.map(_.name).toSet
    val destBy = t.cols.map(c => c.name -> c.dataType).toMap
    val typeChanged = incoming.filter(f => destBy.get(f.name).exists(_ != f.dataType))
    val sidecars = typeChanged.map(f => StructField(s"${f.name}_${f.dataType.simpleString}", f.dataType))
    val added = incoming.filterNot(f => destBy.contains(f.name))
    t.cols = t.cols ++ sidecars ++ added
    val renamed = typeChanged.map(f => s"${f.name}_${f.dataType.simpleString}" -> f.name).toMap
    val changedNames = typeChanged.map(_.name).toSet
    val compare = t.cols.map(_.name).filterNot(n => n == "id" || n == Audit.ColumnName)
    val ts = stamp(day)
    var ins, upd, same = 0
    winners.foreach { w0 =>
      val w = w0.filter { case (k, _) => incomingNames(k) }.updated(Audit.ColumnName, ts)
      val aligned: Rec = t.cols.map { c =>
        val v =
          if (renamed.contains(c.name)) w.getOrElse(renamed(c.name), null)
          else if (changedNames(c.name)) null
          else w.getOrElse(c.name, null)
        c.name -> (v match {
          case l: Long if c.dataType == DoubleType => l.toDouble
          case other => other
        })
      }.toMap
      val id = w("id").asInstanceOf[Long]
      t.rows.get(id) match {
        case Some(old) =>
          if (compare.exists(c => old.getOrElse(c, null) != aligned(c))) { t.rows(id) = aligned; upd += 1 }
          else same += 1
        case None => t.rows(id) = aligned; ins += 1
      }
    }
    (ins, upd, same)
  }

  def langCounts(t: Table): Map[String, Long] =
    t.rows.values.groupBy(_("original_language").asInstanceOf[String]).map { case (k, v) => k -> v.size.toLong }

  def toDataFrame(spark: SparkSession, t: Table): DataFrame = {
    val schema = StructType(t.cols.map(_.copy(nullable = true)))
    val rows = t.rows.values.map(m => Row.fromSeq(schema.fields.toSeq.map(f => m.getOrElse(f.name, null)))).toSeq
    spark.createDataFrame(rows.asJava, schema)
  }
}

/** The generator's state for one run: the last content served per id,
  * and the model of every destination table.
  */
final class EtlGen(seed: Long) {
  import EtlGen._

  val tables: Map[String, Table] = Endpoints.zipWithIndex.map { case (ep, e) =>
    val r = rng(seed, e, 0)
    val rows = mutable.LinkedHashMap.empty[Long, Rec]
    (0L until DestRows).foreach { id =>
      rows(id) = movie(id, r).updated(Audit.ColumnName, stamp(0))
    }
    ep -> new Table(initialCols, rows)
  }.toMap
  private val served: Map[String, mutable.Map[Long, Rec]] = tables.map { case (ep, t) =>
    ep -> mutable.Map.from(t.rows.map { case (id, m) => id -> (m - Audit.ColumnName) })
  }
  private val nextId = mutable.Map.from(Endpoints.map(_ -> DestRows.toLong))

  /** Generate one endpoint-day and advance the model past it. */
  def day(ep: String, day: Int): DayInput = {
    val r = rng(seed, Endpoints.indexOf(ep), day)
    val src = served(ep)
    val schema = daySchema(day)
    val winnersPerPage = PerPage - 4
    val nWinners = winnersPerPage * PagesPerDay
    val nNew = nWinners * 3 / 8
    val nChanged = (nWinners - nNew) / 2
    val ids = src.keys.toIndexedSeq
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < nWinners - nNew) picked += ids(r.nextInt(ids.size))
    val old = picked.toIndexedSeq
    val winners: IndexedSeq[Rec] =
      old.take(nChanged).map(id => change(src(id), r)) ++
        old.drop(nChanged).map(src) ++
        (0 until nNew).map { _ => val id = nextId(ep); nextId(ep) = id + 1; movie(id, r) }
    val sent =
      if (day != AddColumnDay) winners
      else winners.map(_.updated("revenue", if (r.nextInt(5) == 0) null else r.nextInt(10000000) / 10.0))
    val shuffled = shuffle(sent, r)
    val byPage = shuffled.grouped(winnersPerPage).toIndexedSeq
    // Key duplicates: two per page, each a stale variant of a winner that
    // sits on a later page, so the later page's row must win.
    val laterWinners = mutable.Queue.from(shuffle(
      (1 until PagesPerDay).flatMap(p => byPage(p).map(w => (p, w))), r))
    val pages = (0 until PagesPerDay).map { p =>
      val variants = (0 until 2).flatMap { _ =>
        laterWinners.dequeueFirst(_._1 > p).map { case (_, w) => change(w, r) }
      }
      val base = byPage(p) ++ variants
      val exact = (0 until PerPage - base.size).map(_ => base(r.nextInt(base.size)))
      shuffle(base ++ exact, r)
    }
    winners.foreach(w => src(w("id").asInstanceOf[Long]) = w)
    val t = tables(ep)
    val (ins, upd, same) = applyBatch(t, sent, schema, day)
    val json = pages.zipWithIndex.map { case (rows, i) => pageJson(i + 1, PagesPerDay, rows, schema) }.toArray
    DayInput(day, schema, json,
      Expect(ins, upd, same, t.rows.size, langCounts(t), winners.size,
        pages.map(_.size).sum, json.map(_.length.toLong).sum))
  }

  private def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val tmp = a(i); a(i) = a(j); a(j) = tmp
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

/** What the read-back report saw for one endpoint-day. */
final case class Observed(rows: Long, stampedToday: Long, langs: Map[String, Long])

object EtlUpsert {
  /** Untimed days before the window. After one day the JIT compiler is
    * still busy enough with the path that the program's CPU time per day
    * moved by a third from run to run with how far it had got.
    */
  val WarmupDays = 2

  /** Wall time of one day on a 4-vCPU VM, in seconds. */
  val NominalDayS = 7.0

  /** Timed days of a run of `seconds`: as many as fill it at
    * [[NominalDayS]], and at least the two drift days and a normal day.
    * The count is fixed in advance so that every run does the same work
    * whatever the host's speed; a run that stopped on the clock would do
    * more days when the host is fast, and the later days, run with more
    * of the path compiled and more of the `Merge` cache held, would move
    * every per-day figure.
    */
  def days(seconds: Int): Int =
    math.max(EtlGen.TypeChangeDay + 1 - WarmupDays, math.ceil(seconds / NominalDayS).toInt)
}

/** `etl_upsert`: the reference's daily product, many days over. */
final class EtlUpsert(ctx: Ctx) {
  import EtlGen._
  private val spark = ctx.spark
  private val spans = ctx.spans
  private def root(ep: String) = ctx.workDir.resolve("etl").resolve(ep).toString

  private val loadS = mutable.ArrayBuffer.empty[Double]
  private val readS = mutable.ArrayBuffer.empty[Double]
  private val dayS = mutable.ArrayBuffer.empty[Double]
  private val loadCpuS = mutable.ArrayBuffer.empty[Double]
  private val dayCpuS = mutable.ArrayBuffer.empty[Double]
  private val loadWallS = mutable.ArrayBuffer.empty[Double]
  private val waitS = mutable.ArrayBuffer.empty[Double]
  private val cachedPerDay = mutable.ArrayBuffer.empty[(Int, Long)]
  private[perfbench] val observed = mutable.Map.empty[(String, Int), Observed]
  private[perfbench] val expected = mutable.Map.empty[(String, Int), Expect]
  private val keepRatios = mutable.ArrayBuffer.empty[Double]
  private val evolutions = new AtomicLong
  private var attempted, failed = 0L

  /** One endpoint-day, ingest to commit, as a production DAG would run it. */
  def load(ep: String, in: DayInput): Unit = {
    val ingested = spans.span("sources.ingest") {
      ctx.boundary(Paginated.ingest(spark, DayFetcher(in.pages), ep, in.schema))
    }
    val full = spans.span("Dedup.fullRow") { ctx.boundary(Dedup.fullRow(ingested)) }
    val latest = spans.span("Dedup.byKeyLatest") {
      ctx.boundary(Dedup.byKeyLatest(full, Seq("id"), Seq("page")))
    }
    if (spans.enabled) keepRatios.synchronized {
      keepRatios += latest.count().toDouble / ingested.count()
    }
    val stamped = spans.span("Audit.stampAt") {
      Audit.stampAt(latest.drop("page"), lit(stamp(in.day)))
    }
    val dest = Sinks.readCurrent(spark, root(ep))
    val (d, s) = spans.span("SchemaDrift.align") {
      val (d, s) = SchemaDrift.align(dest, stamped)
      if (d.columns.length > dest.columns.length) evolutions.addAndGet(d.columns.length - dest.columns.length)
      (d, ctx.boundary(s))
    }
    val merged = spans.span("Merge.merge") { ctx.boundary(Merge.merge(d, s, Seq("id"))) }
    spans.span("Sinks.swapIntoVersioned") { Sinks.swapIntoVersioned(spark, root(ep), merged) }
  }

  /** The read-back report: per-language counts and today's stamps. */
  def report(ep: String, day: Int): Observed = {
    val rows = spans.span("Sinks.readCurrent") {
      Sinks.readCurrent(spark, root(ep))
        .groupBy(col("original_language"))
        .agg(count(lit(1)).as("n"),
          sum(when(col(Audit.ColumnName) === lit(stamp(day)), 1L).otherwise(0L)).as("today"))
        .collect()
    }
    Observed(rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum,
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** One day: every endpoint fanned out with the pipeline's default cap,
    * then the read-back. The day's wall time runs through the read-back.
    * Returns false if any operation failed.
    */
  def runDay(gen: EtlGen, day: Int, timed: Boolean, endpoints: Seq[String] = Endpoints): Boolean = {
    val inputs = endpoints.map(ep => ep -> gen.day(ep, day)).toMap
    inputs.foreach { case (ep, in) => expected((ep, day)) = in.expect }
    val start = System.nanoTime()
    val cpu0 = Cpu.programSeconds
    val outcome = scala.util.Try(spans.span("pipeline.day") {
      val daySpan = spans.currentSpan
      Pipeline.fanOut(endpoints, retry = Pipeline.RetryPolicy(retries = 0)) { ep =>
        val began = System.nanoTime()
        spans.span("pipeline.endpointDay", daySpan) { load(ep, inputs(ep)) }
        (ep, (began - start) / 1e9, (System.nanoTime() - began) / 1e9)
      }
    })
    val loadWall = (System.nanoTime() - start) / 1e9
    val loadCpu = Cpu.programSeconds - cpu0
    attempted += endpoints.size
    outcome match {
      case scala.util.Failure(e) =>
        System.err.println(s"[perfbench] day $day failed: $e")
        failed += endpoints.size
        ctx.releaseBoundaries()
        false
      case scala.util.Success(results) =>
        val reads = endpoints.map { ep =>
          val t0 = System.nanoTime()
          attempted += 1
          scala.util.Try(report(ep, day)) match {
            case scala.util.Success(o) =>
              observed((ep, day)) = o
              Some((System.nanoTime() - t0) / 1e9)
            case scala.util.Failure(e) =>
              System.err.println(s"[perfbench] read-back $ep day $day failed: $e"); failed += 1
              None
          }
        }
        val wall = (System.nanoTime() - start) / 1e9
        val dayCpu = Cpu.programSeconds - cpu0
        if (timed) {
          results.foreach { case (_, w, l) => waitS += w; loadS += l }
          readS ++= reads.flatten
          loadWallS += loadWall
          dayS += wall
          loadCpuS += loadCpu / endpoints.size
          dayCpuS += dayCpu
        }
        ctx.releaseBoundaries()
        cachedPerDay += ((day, Checks.cachedBytes(spark)))
        true
    }
  }

  /** The input model, from [[generateModel]]; the only reference to it,
    * so that dropping it frees it.
    */
  private var model: EtlGen = _

  /** Build [[model]], timed three times (see [[Ctx.generate]]). */
  private def generateModel(): Seq[Double] = {
    val (g, times) = ctx.generate(new EtlGen(ctx.seed))
    model = g
    times
  }

  def writeInitialTables(gen: EtlGen): Unit =
    Endpoints.foreach(ep => Sinks.swapIntoVersioned(spark, root(ep), toDataFrame(spark, gen.tables(ep))))

  def run(): Result = {
    val genTimes = generateModel()
    writeInitialTables(model)
    EtlGen.fetches.set(0)
    val warm0 = System.nanoTime()
    // Warm-up: the first days, run as every later day is, load and
    // JIT-compile the whole path.
    (1 to EtlUpsert.WarmupDays).foreach(d => runDay(model, d, timed = false))
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = ctx.setupSeconds(genTimes)
    val w = new Window(ctx)
    val jit0 = Cpu.compilerSeconds
    val fetched0 = EtlGen.fetches.get
    var day = EtlUpsert.WarmupDays + 1
    var ok = true
    while (ok && day <= EtlUpsert.WarmupDays + EtlUpsert.days(ctx.seconds)) {
      ok = runDay(model, day, timed = true)
      day += 1
    }
    val lastDay = day - 1
    val engine = w.engine(loadS.size)
    val jitS = Cpu.compilerSeconds - jit0
    val pages = (EtlGen.fetches.get - fetched0).toDouble
    val check0 = System.nanoTime()
    val problems = check(model, lastDay)
    val checkS = (System.nanoTime() - check0) / 1e9
    val srcRows = (EtlUpsert.WarmupDays + 1 to lastDay).map(d => Endpoints.map(ep => expected((ep, d)).sourceRows).sum).sum
    // The input model is the benchmark's own: the gated live heap is
    // measured without it, and its size is reported apart.
    val withModelMb = ctx.heap.liveMb()
    model = null
    val liveMb = ctx.heap.liveMb()
    val modelMb = withModelMb - liveMb
    val e2e = Map(
      "setup_s" -> setupS,
      "op_cpu_s" -> Stats.mean(loadCpuS.toSeq),
      "round_cpu_s" -> Stats.mean(dayCpuS.toSeq),
      "heap_live_mb" -> liveMb)
    val perDay = (EtlUpsert.WarmupDays + 1 to lastDay).flatMap(d => Endpoints.map(ep => (ep, d)))
    def mean(f: ((String, Int)) => Double) = perDay.map(f).sum / perDay.size
    val obsCounts = perDay.map { case k @ (ep, d) =>
      val none = Observed(0, 0, Map.empty)
      val o = observed.getOrElse(k, none)
      val prev = if (expected.contains((ep, d - 1))) observed.getOrElse((ep, d - 1), none) else Observed(DestRows, 0, Map.empty)
      val ins = o.rows - prev.rows
      val upd = o.stampedToday - ins
      (ins.toDouble, upd.toDouble, (expected(k).distinctKeys - ins - upd).toDouble)
    }
    val layers = mutable.LinkedHashMap[String, Double](
      "sources.ingest_s" -> meanSelf("sources.ingest"),
      "sources.pages" -> pages / perDay.size,
      "pipeline.fanout_wait_s" -> waitS.sum / perDay.size,
      "Dedup.fullRow_s" -> meanSelf("Dedup.fullRow"),
      "Dedup.byKeyLatest_s" -> meanSelf("Dedup.byKeyLatest"),
      "Dedup.keep_ratio" -> (if (keepRatios.isEmpty) 0.0 else keepRatios.sum / keepRatios.size),
      "SchemaDrift.align_s" -> meanSelf("SchemaDrift.align"),
      "SchemaDrift.evolutions" -> evolutions.get.toDouble,
      "Merge.merge_s" -> meanSelf("Merge.merge"),
      "Merge.dest_rows_read_per_src_row" -> perSpan("Merge.merge", _.inputRecords) /
        mean(k => expected(k).sourceRows),
      "Merge.shuffle_bytes" -> perSpan("Merge.merge", _.shuffleWriteBytes),
      "Merge.inserted" -> obsCounts.map(_._1).sum / perDay.size,
      "Merge.updated" -> obsCounts.map(_._2).sum / perDay.size,
      "Merge.unchanged" -> obsCounts.map(_._3).sum / perDay.size,
      "Merge.cached_bytes" -> cachedPerDay.last._2.toDouble,
      "Merge.cached_bytes_per_day" -> Stats.slope(cachedPerDay.map(_._1.toDouble).toSeq,
        cachedPerDay.map(_._2.toDouble).toSeq),
      "Sinks.commit_s" -> meanSelf("Sinks.swapIntoVersioned"),
      "Sinks.bytes_written_per_src_byte" -> perSpan("Sinks.swapIntoVersioned", _.outputBytes) /
        mean(k => expected(k).sourceBytes.toDouble),
      "Sinks.files_written" -> Endpoints.map(ep => versionFiles(ep)._1).sum.toDouble / Endpoints.size,
      "Sinks.space_amp" -> Endpoints.map(ep => versionFiles(ep)._2).sum / Endpoints.size,
      "Sinks.readCurrent_s" -> meanSelf("Sinks.readCurrent"))
    engine.foreach(m => layers(m.name) = m.value)
    val details = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("etl.load_s_p50", Stats.median(loadS.toSeq), "s"),
      Metric("etl.load_s_p90", Stats.quantile(loadS.toSeq, 0.9), "s"),
      Metric("etl.rows_per_s", srcRows / loadWallS.sum, "1/s"),
      Metric("etl.read_s_p50", Stats.median(readS.toSeq), "s"),
      Metric("etl.day_s_p50", Stats.median(dayS.toSeq), "s"),
      Metric("etl.load_cpu_s_p50", Stats.median(loadCpuS.toSeq), "s"),
      Metric("etl.day_cpu_s_p50", Stats.median(dayCpuS.toSeq), "s"),
      Metric("jit_cpu_s", jitS, "s"),
      Metric("etl.endpoint_days", loadS.size, "count"),
      Metric("setup.generate_s", Stats.median(genTimes), "s"),
      Metric("setup.warmup_s", warmS, "s"),
      Metric("check_s", checkS, "s"),
      Metric("heap_live_mb", liveMb, "MB"),
      Metric("heap_used_mb_p50", Stats.median(w.heapMb), "MB"),
      Metric("heap_used_mb_max", w.heapMb.maxOption.getOrElse(Double.NaN), "MB"),
      Metric("heap_gcs", w.heapMb.size, "count"),
      Metric("heap_input_model_mb", modelMb, "MB"),
      Metric("ops_failed_frac", failed.toDouble / math.max(attempted, 1), "ratio"),
      Metric("etl.dest_live_bytes", Endpoints.map(ep => liveBytes(ep)).sum / Endpoints.size, "bytes"),
      Metric("etl.batch_source_bytes", mean(k => expected(k).sourceBytes.toDouble), "bytes"),
      Metric("spark.storage_memory_bytes",
        spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum.toDouble, "bytes"),
      Metric("spark.broadcast_threshold_bytes",
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.autoBroadcastJoinThreshold")).toDouble, "bytes"),
      Metric("Merge.cached_bytes", cachedPerDay.last._2.toDouble, "bytes"),
      Metric("Merge.cached_bytes_per_day", layers("Merge.cached_bytes_per_day"), "bytes/day"))
    val (layerLine, layerDetails) = Catalog.layers(layers.toMap)
    Result(problems.isEmpty && ok, attempted, failed, Catalog.e2e(e2e), layerLine,
      if (ctx.spans.enabled) details ++ layerDetails.filterNot(m => details.exists(_.name == m.name)) else details,
      problems)
  }

  private def meanSelf(name: String): Double = ctx.tracer.map(_.meanSelf(name)).getOrElse(0.0)

  private def perSpan(name: String, f: EngineCounters => Long): Double = ctx.tracer match {
    case Some(t) =>
      val ss = t.named(name)
      if (ss.isEmpty) 0.0 else ss.map(s => f(t.group(s)).toDouble).sum / ss.size
    case None => 0.0
  }

  private def size(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length

  private def liveVersion(ep: String): java.io.File =
    new java.io.File(root(ep)).listFiles.filter(_.getName.matches("v\\d{8}")).maxBy(_.getName)

  private def liveBytes(ep: String): Double = size(liveVersion(ep)).toDouble

  /** (parquet files in the live version, bytes on disk / live-version bytes). */
  private def versionFiles(ep: String): (Int, Double) = {
    val live = liveVersion(ep)
    val files = live.listFiles.count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    (files, size(new java.io.File(root(ep))).toDouble / size(live))
  }

  /** Every endpoint-day's read-back against the model, then each final
    * table's schema and content fingerprint.
    */
  def check(gen: EtlGen, lastDay: Int): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val initial = Observed(DestRows, 0, Map.empty)
    for (d <- 1 to lastDay; ep <- Endpoints if expected.contains((ep, d))) {
      val e = expected((ep, d))
      val prev = if (expected.contains((ep, d - 1))) observed.get((ep, d - 1)) else Some(initial)
      (observed.get((ep, d)), prev) match {
        case (Some(o), Some(prev)) =>
          val ins = o.rows - prev.rows
          val upd = o.stampedToday - ins
          val same = e.distinctKeys - ins - upd
          if (o.rows != e.total || ins != e.inserted || upd != e.updated || same != e.unchanged || o.langs != e.langs)
            problems += s"$ep day $d: rows ${o.rows}/${e.total}, inserted $ins/${e.inserted}, " +
              s"updated $upd/${e.updated}, unchanged $same/${e.unchanged} (observed/expected)"
        case _ => problems += s"$ep day $d: no read-back"
      }
    }
    Endpoints.foreach { ep =>
      val actual = Sinks.readCurrent(spark, root(ep))
      val want = toDataFrame(spark, gen.tables(ep))
      val as = actual.schema.fields.map(f => f.name -> f.dataType).toSeq
      val ws = want.schema.fields.map(f => f.name -> f.dataType).toSeq
      if (as != ws) problems += s"$ep schema ${as.mkString(",")} != ${ws.mkString(",")}"
      else if (Checks.fingerprint(actual) != Checks.fingerprint(want))
        problems += s"$ep final table fingerprint differs from the model"
    }
    problems.toSeq
  }
}
