package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Geometric mean; NaN for an empty sample, as from a run whose
    * operations all failed.
    */
  def gmean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile (the "inclusive" method); NaN for an
    * empty sample.
    */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Least-squares slope of ys against xs. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    val n = xs.size
    if (n < 2) 0.0
    else {
      val mx = xs.sum / n
      val my = ys.sum / n
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

final case class Metric(name: String, value: Double, unit: String)

/** What a workload run reports. `e2e` and `layers` carry exactly the
  * names BENCHMARK.json lists; `details` carries the workload's own
  * named metrics, printed for people and kept in the record file.
  */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    e2e: Seq[Metric],
    layers: Seq[Metric],
    details: Seq[Metric],
    problems: Seq[String])

/** Heap in use after garbage collection, which unlike raw heap
  * occupancy does not follow the collector's timing. Every collection
  * reports its post-collection heap; [[samplesMb]] keeps them all.
  */
final class HeapSampler {
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      samples.add(after)
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  /** Every post-collection heap figure so far, in MiB, oldest first. */
  def samplesMb: Seq[Double] = samples.asScala.toSeq.map(_ / 1048576.0)

  /** Heap still in use after forced full collections, in MiB: the live
    * set at this moment.
    */
  def liveMb(): Double = {
    // Spark's context cleaner drops broadcasts and shuffles only after a
    // collection finds them unreachable, and that can take seconds:
    // collect until the figure stops falling by more than 1 MiB.
    def collect(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = collect()
    Thread.sleep(500)
    var cur = collect()
    var rounds = 0
    while (prev - cur > (1L << 20) && rounds < 8) {
      prev = cur
      Thread.sleep(500)
      cur = collect()
      rounds += 1
    }
    cur / 1048576.0
  }
}

/** Everything a workload run needs from the harness. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val spans: Spans,
    val workDir: Path,
    val launchNanos: Long,
    val tables: Path = null) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val heap = new HeapSampler

  def tracer: Option[Tracer] = spans match {
    case t: Traced => Some(t.tracer)
    case _ => None
  }

  /** In traced runs only, materialize a layer's output at its span
    * boundary so the next layer's span does not absorb its work. A local
    * checkpoint, not a cache entry: releasing it must not disturb what
    * the program itself caches (the Merge cache is a measured layer).
    */
  def boundary(df: DataFrame): DataFrame =
    if (spans.enabled) {
      val c = df.localCheckpoint(eager = true)
      synchronized { pinned += c }
      c
    } else df

  private val pinned = mutable.ArrayBuffer.empty[DataFrame]

  /** Drop the blocks of every DataFrame [[boundary]] pinned. */
  def releaseBoundaries(): Unit = synchronized {
    pinned.foreach(_.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = true)
      case _ =>
    })
    pinned.clear()
  }

  /** Run an input generator three times and time each run. Returns the
    * last output and the three times; the first two outputs are garbage
    * at once, so only one copy of the inputs stays reachable.
    */
  def generate[T](make: => T): (T, Seq[Double]) = {
    def timed() = { val t0 = System.nanoTime(); val out = make; (out, (System.nanoTime() - t0) / 1e9) }
    val spare = (1 to 2).map(_ => timed()._2)
    val (out, last) = timed()
    (out, spare :+ last)
  }

  /** Time from launch to now, counting the repeated input generation
    * (`generations`, in seconds) once, at its median.
    */
  def setupSeconds(generations: Seq[Double]): Double =
    (System.nanoTime() - launchNanos) / 1e9 - generations.sum + Stats.median(generations)

  def dir(name: String): Path = {
    val d = workDir.resolve(name)
    Files.createDirectories(d)
    d
  }
}

/** CPU time, which on a shared host follows the program's own work where
  * wall time follows how busy the host is: the kernel leaves out the
  * time a virtual machine's host withheld the CPU (steal).
  */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM so far, in seconds, at the
    * 10 ms resolution of `times(2)`.
    */
  def seconds: Double = os.getProcessCpuTime / 1e9

  /** CPU time of the JIT compiler threads so far, in seconds, from each
    * thread's `/proc/self/task/<tid>/schedstat`; 0 where there is no
    * such file. The JVM must keep its compiler threads for its whole
    * life (`-XX:-UseDynamicNumberOfCompilerThreads`), or the time of one
    * that exits drops out of this sum.
    */
  def compilerSeconds: Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty[java.io.File])
    tasks.iterator.map { t =>
      scala.util.Try {
        val name = new String(Files.readAllBytes(t.toPath.resolve("comm")), "UTF-8")
        if (name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre"))
          new String(Files.readAllBytes(t.toPath.resolve("schedstat")), "UTF-8").trim.split(" ")(0).toLong
        else 0L
      }.getOrElse(0L)
    }.sum / 1e9
  }

  /** CPU time of the program: every thread of the JVM but the JIT
    * compiler's. Compilation runs for minutes after start and its amount
    * depends on what the compiler has reached, not on the work done.
    */
  def programSeconds: Double = seconds - compilerSeconds
}

object Checks {
  /** Order-insensitive content hash of a DataFrame: row count plus the
    * sum of a 64-bit hash of every row (columns in name order, doubles
    * printed to 10 significant digits so summation order cannot flip a
    * low bit). Both sides of a comparison go through this one function.
    */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
          format_string("%.10g", col(s"`${f.name}`").cast("double"))
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  /** Bytes the block manager holds for cached data (memory plus disk). */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
