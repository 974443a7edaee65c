package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Data-layout management — the scan-side half of 100 TB performance.
  *
  * Layouts and their pruning levers:
  *  - [[writePartitioned]]: hive-style directory partitioning. A filter on
  *    the partition column prunes whole directories at PLANNING time
  *    (`PartitionFilters` / `PartitionCount` in the scan node) — zero IO
  *    for excluded partitions, the coarsest and cheapest skip.
  *  - [[writeClustered]]: range-repartition + sort-within-partitions on a
  *    cluster key. Each output file covers a DISJOINT key range, so parquet
  *    footer min/max statistics make any key predicate skip all but the
  *    covering files at READ time (row-group pruning) — the lever for
  *    high-cardinality keys where directory-per-value would melt the
  *    metastore.
  *
  * Compaction of small files is the table format's job
  * ([[ManifestTable.compact]]).
  */
object Layout {

  private def fs(spark: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Hive-partitioned parquet write (dirs per partition-column value). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Range-clustered write: `numFiles` files with disjoint, sorted key
    * ranges (parquet min/max stats become maximally selective on the key).
    */
  def writeClustered(df: DataFrame, path: String, clusterCols: Seq[String], numFiles: Int): Unit =
    df.repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** Morton (z-order) interleave of the low 16 bits of two non-negative
    * int columns — bit i of x lands at position 2i, bit i of y at 2i+1, so
    * sorting by the z-value clusters BOTH dimensions at once: any box
    * predicate (x range AND/OR y range) maps to a bounded set of z-runs,
    * and parquet min/max footers skip files on either column. Plain shift
    * arithmetic (the `sequence` fold is the same portable shape as the
    * simhash vote loop) — engine-portable, no UDF.
    */
  def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zValueN(Seq(x, y))

  /** N-dimensional Morton interleave (k in [2, 4]): bit i of dimension d
    * lands at position `i·k + d`, so the z-sort clusters ALL k dimensions
    * at once. Each dimension contributes [[zBitsPerDim]] low bits —
    * 16 for k=2/3, 15 for k=4 — keeping every interleaved position
    * under bit 62 (bit 63 is the sign; letting a dimension reach it
    * would flip the range ordering the file split relies on). Runs the
    * codegen'd [[graft.plans.MortonOps]] native expression — the HOF
    * `aggregate(sequence(...))` formulation it replaces interpreted a
    * lambda per bit level per row (measured 5× slower on the q164b
    * rewrite). NULL coordinates land at the curve origin, matching
    * [[withHilbertKey]].
    */
  def zValueN(dims: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val k = dims.size
    require(k >= 2 && k <= 4, s"zValueN interleaves 2 to 4 dimensions, got $k")
    graft.plans.HilbertExpressions.morton(zBitsPerDim(k),
      array(dims.map(d => coalesce(d.cast("long"), lit(0L))): _*))
  }

  /** Low bits each dimension keeps in the k-dim interleave: min(16, 62/k). */
  def zBitsPerDim(k: Int): Int = math.min(16, 62 / k)

  /** Z-ordered write: range-repartition + sort on the interleaved key, so
    * each file covers a compact rectangle-ish region of (c1, c2) space —
    * min/max pruning works on BOTH columns, where [[writeClustered]] on c1
    * leaves c2 scattered across every file. The multi-dimensional layout
    * lever for fact tables filtered on more than one key.
    *
    * Both columns are min/max-normalized to 16 bits before interleaving —
    * WITHOUT this, the wider-range dimension owns every high z-bit and the
    * file split degenerates to 1-D clustering on it (measured: 8/8 files
    * touched on the narrow dimension). Min/max is one bounded agg (4
    * driver scalars). Normalization is exact while (range × 2^16) < 2^53;
    * beyond that swap in rank-based bucketing.
    */
  def writeZOrdered(
      df: DataFrame, path: String, c1: String, c2: String, numFiles: Int): Unit =
    writeZOrderedN(df, path, Seq(c1, c2), numFiles)

  /** K-dimensional z-ordered write (k in [2, 4]) — see [[writeZOrdered]];
    * every clustering column's min/max footer stats stay selective.
    */
  def writeZOrderedN(
      df: DataFrame, path: String, cols: Seq[String], numFiles: Int): Unit =
    withNormalizedZ(df, cols) match {
      case None => df.write.mode("overwrite").parquet(path)
      case Some(z) =>
        z.repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
          .write.mode("overwrite").parquet(path)
    }

  /** Each dimension min/max-normalized to `bits` bits (one bounded agg
    * of 2k driver scalars — WITHOUT normalization the widest-range
    * dimension owns every high curve bit and the split degenerates to
    * 1-D clustering). Normalization is exact while (range × 2^bits)
    * < 2^53; beyond that swap in rank-based bucketing. None when any
    * dimension is all-null/empty (nothing to curve-order — callers
    * write as-is).
    */
  private def normalizedDims(df: DataFrame, cols: Seq[String],
      bits: Int): Option[Seq[org.apache.spark.sql.Column]] = {
    import org.apache.spark.sql.functions._
    require(cols.distinct.size == cols.size,
      s"curve columns must be distinct, got $cols")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    if (cols.indices.exists(i => r.isNullAt(2 * i))) None
    else {
      val scale = math.pow(2.0, bits)
      Some(cols.zipWithIndex.map { case (c, i) =>
        val (lo, hi) = (r.getLong(2 * i), r.getLong(2 * i + 1))
        if (hi <= lo) lit(0L)
        else floor((col(c).cast("long") - lit(lo)) * lit(scale) /
          lit((hi - lo + 1).toDouble)).cast("long")
      })
    }
  }

  /** `df` plus a `__z` Morton key over the normalized dimensions. */
  def withNormalizedZ(df: DataFrame, cols: Seq[String]): Option[DataFrame] =
    normalizedDims(df, cols, zBitsPerDim(cols.size))
      .map(dims => df.withColumn("__z", zValueN(dims)))

  /** `df` plus a `__h` HILBERT key over the normalized dimensions
    * ([[graft.plans.HilbertOps]] — better locality than the z-curve:
    * no power-of-two seam jumps, so per-file boxes are tighter and
    * min/max pruning skips more). NULL coordinates land at the curve
    * origin (coalesced to 0 — a null cannot ride the codegen'd long
    * array).
    */
  def withHilbertKey(df: DataFrame, cols: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val bits = zBitsPerDim(cols.size)
    normalizedDims(df, cols, bits).map { dims =>
      df.withColumn("__h", graft.plans.HilbertExpressions.hilbert(bits,
        array(dims.map(coalesce(_, lit(0L))): _*)))
    }
  }

  /** Hilbert-clustered write — the drop-in upgrade of
    * [[writeZOrderedN]]; same normalization, tighter file boxes.
    */
  def writeHilbert(
      df: DataFrame, path: String, cols: Seq[String], numFiles: Int): Unit =
    withHilbertKey(df, cols) match {
      case None => df.write.mode("overwrite").parquet(path)
      case Some(h) =>
        h.repartitionByRange(numFiles, col("__h"))
          .sortWithinPartitions(col("__h"))
          .drop("__h")
          .write.mode("overwrite").parquet(path)
    }

  /** Per-file (min, max) of an int column, from the files' own contents —
    * the spec-side stand-in for parquet footer stats in pruning tests.
    * Zero-row part files carry no range and are omitted.
    */
  def fileRanges(spark: SparkSession, path: String, c: String): Seq[(Long, Long)] =
    dataFiles(spark, path).flatMap { case (f, _) =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min(col(c)).cast("long"),
          org.apache.spark.sql.functions.max(col(c)).cast("long"))
        .head()
      if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
    }

  /** Parquet data files under a table path (recursive — covers hive
    * partition subdirectories).
    */
  def dataFiles(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val f = fs(spark)
    val it = f.listFiles(new Path(path), true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith("."))
        buf += ((s.getPath.toString, s.getLen))
    }
    buf.toSeq
  }
}
