package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one JVM.
  *
  * {{{
  * java ... perfbench.Main --workload etl_upsert --seed 1 --seconds 10 \
  *   --trace 0 --work-dir .bench_work --out result.json --tables mix-tables
  * }}}
  *
  * `perfbench/run.py` builds the classes and the `query_mix` tables
  * (`--tables`) and launches this; the record it
  * writes to `--out` holds every metric, and run.py turns it into the
  * final stdout line.
  */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workDir: Path, out: Path, tables: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work-dir")), Paths.get(need("out")), Paths.get(need("tables")))
  }

  val workloads: Map[String, Ctx => Result] = Map(
    "etl_upsert" -> (ctx => new EtlUpsert(ctx).run()),
    "query_mix" -> (ctx => new QueryMix(ctx).run()))

  /** Session for every workload: the repo's own builder at local[4], with
    * every scratch directory inside the work dir.
    */
  def session(workDir: Path): SparkSession = {
    val s = graft.Sessions.builder(s"local[$Cores]", Cores)
      .appName("perfbench")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", workDir.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(workDir.resolve("rdd-checkpoints").toString)
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; have ${workloads.keys.mkString(", ")}"))
    // Benchmark start is when run.py launched this JVM, passed as epoch ms.
    val t0Ms = sys.props.get("perfbench.t0").map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble)
    val launchNanos = System.nanoTime() - ((System.currentTimeMillis() - t0Ms) * 1e6).toLong
    Files.createDirectories(a.workDir)
    val spark = session(a.workDir)
    val runId = s"${a.workload}-${a.seed}-${if (a.trace) "traced" else "plain"}"
    val tracer = if (a.trace) Some(new Tracer(spark, runId)) else None
    val ctx = new Ctx(spark, a.seed, a.seconds, tracer.map(new Traced(_)).getOrElse(NoTrace),
      a.workDir, launchNanos, a.tables)
    def mark(what: String) = System.err.println(f"[perfbench] $what at ${(System.nanoTime() - launchNanos) / 1e9}%.1f s")
    mark("session ready")
    val res = run(ctx)
    mark("workload done")
    tracer.foreach { t =>
      t.writeSpans(a.out.resolveSibling("spans.jsonl"))
      t.stop()
    }
    writeRecord(a, res)
    spark.stop()
    mark("session stopped")
  }

  def writeRecord(a: Args, r: Result): Unit = {
    def obj(ms: Seq[Metric]) = ms.map(m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}").mkString("{", ",", "}")
    val metrics = if (a.trace) r.layers else r.e2e
    val text =
      s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},"seconds":${a.seconds},"trace":${if (a.trace) 1 else 0},""" +
        s""""correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},""" +
        s""""metrics":${obj(metrics)},"e2e":${obj(r.e2e)},"details":${obj(r.details)},""" +
        s""""problems":${r.problems.map(Json.str).mkString("[", ",", "]")}}"""
    Files.write(a.out, (text + "\n").getBytes("UTF-8"))
  }
}

/** Measures one workload's timed window and turns it into the generic
  * end-to-end metrics plus, in traced runs, the Spark engine layer.
  */
final class Window(ctx: Ctx) {
  // Let the warm-up's garbage, background JIT compiles and Spark's
  // context cleaner settle, so every window starts from a like state.
  System.gc()
  Thread.sleep(1000)
  private val heap0 = ctx.heap.samplesMb.size
  private val startNanos = System.nanoTime()
  private val startEpochMs = System.currentTimeMillis()
  private val gc0 = Checks.gcSeconds
  private val compiles0 = codegen.getCount
  private val base = ctx.tracer.map { t => t.settle(); t.openWindow(); snapshot(t.total) }
  private def codegen =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  private def snapshot(c: EngineCounters): EngineCounters = c.synchronized {
    val s = new EngineCounters
    s.jobs = c.jobs; s.taskRunMs = c.taskRunMs; s.shuffleWriteBytes = c.shuffleWriteBytes
    s.spillBytes = c.spillBytes; s.inputRecords = c.inputRecords; s.outputBytes = c.outputBytes
    s.planMs = c.planMs; s.planBytes = c.planBytes
    s
  }

  private var heap1 = -1

  /** Post-collection heap figures of the window, in MiB; the window
    * closes at the first call of [[engine]].
    */
  def heapMb: Seq[Double] = ctx.heap.samplesMb.slice(heap0, heap1)

  /** Time since the window opened. */
  def elapsed: Double = (System.nanoTime() - startNanos) / 1e9

  /** Spark engine metrics over the window, per operation; empty when
    * the run is not traced.
    */
  def engine(ops: Int): Seq[Metric] = {
    if (heap1 < 0) heap1 = ctx.heap.samplesMb.size
    val wallS = elapsed
    val endEpochMs = System.currentTimeMillis()
    val n = math.max(ops, 1).toDouble
    val compiles = codegen.getCount - compiles0
    val compileS = compiles * codegen.getSnapshot.getMean / 1000.0
    val gcS = Checks.gcSeconds - gc0
    ctx.tracer match {
      case Some(t) =>
        t.settle()
        val now = snapshot(t.total)
        val b = base.get
        import scala.jdk.CollectionConverters._
        val jobs = t.jobIntervals.asScala.toSeq
          .filter { case (s, e) => e >= startEpochMs && s <= endEpochMs }
          .map { case (s, e) => (math.max(s, startEpochMs), math.min(e, endEpochMs)) }
        val inJobsMs = Stats.unionLength(jobs)
        Seq(
          Metric("spark.plan_s", (now.planMs - b.planMs) / 1000.0 / n, "s"),
          Metric("spark.codegen_compiles", compiles / n, "count"),
          Metric("spark.codegen_s", compileS / n, "s"),
          Metric("spark.plan_bytes", (now.planBytes - b.planBytes) / n, "bytes"),
          Metric("spark.jobs", (now.jobs - b.jobs) / n, "count"),
          Metric("spark.driver_gap_s", math.max(0.0, wallS - inJobsMs / 1000.0) / n, "s"),
          Metric("spark.shuffle_write_bytes", (now.shuffleWriteBytes - b.shuffleWriteBytes) / n, "bytes"),
          Metric("spark.spill_bytes", (now.spillBytes - b.spillBytes) / n, "bytes"),
          Metric("spark.core_util", (now.taskRunMs - b.taskRunMs) / 1000.0 / (wallS * ctx.cores), "ratio"),
          Metric("spark.gc_s", gcS / n, "s"))
      case None => Nil
    }
  }
}
