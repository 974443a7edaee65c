package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Table sinks mirroring the reference's two load paths plus the XCom
  * stage-handoff (§2.1 S3/S4/S7, §3.3).
  *
  * The two load paths ([[appendInto]], [[upsertInto]]) write a
  * [[ManifestTable]]: each load is one atomic manifest commit, a MERGE
  * rewrites only the files that hold a matching key, and every earlier
  * snapshot stays readable until [[ManifestTable.vacuum]]. Read a loaded
  * table back with [[ManifestTable.read]]. [[swapIntoVersioned]]/
  * [[readCurrent]] are the full-table commit-marker layout, whose commit
  * point is a single atomic file create.
  */
object Sinks {

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** The append path (`write_dataframe`, etl.py:27-86): dedup, audit-stamp
    * and append the batch as one commit — the first load creates the
    * table. Schema drift evolves the table in the same commit (the analog
    * of `ALTER TABLE ADD COLUMN`): an added column reads NULL in earlier
    * files, and a type-drifted column lands in its `{name}_{type}`
    * sidecar ([[ManifestTable.commit]] `mergeSchema`).
    */
  def appendInto(spark: SparkSession, destPath: String, batch: DataFrame): Unit =
    ManifestTable.commit(spark, destPath, Audit.stamp(Dedup.fullRow(batch)),
      append = true, mergeSchema = true)

  /** The upsert path (MERGE, `etl.py:88-183`): audit-stamp the batch
    * (`etl.py:95`, as [[JdbcSink.mergeInto]] does) and dedup it on pk,
    * the latest by `orderCols` winning. The first load creates the table
    * with min/max stats on `pk`; a later one resolves schema drift
    * against the manifest's schema ([[SchemaDrift.align]], as
    * `etl.py:128-141` does before its MERGE)
    * and runs [[ManifestTable.merge]], which rewrites only the files
    * holding a batch key. A re-sent unchanged row keeps its first stamp
    * (the change predicate skips audit columns); a changed or new row
    * carries this load's.
    */
  def upsertInto(spark: SparkSession, destPath: String, batch: DataFrame,
      pk: Seq[String], orderCols: Seq[String]): Unit = {
    val deduped = Dedup.byKeyLatest(Audit.stamp(batch), pk, orderCols)
    if (ManifestTable.listVersions(spark, destPath).isEmpty)
      ManifestTable.commit(spark, destPath, deduped, statsCols = pk)
    else {
      val dest = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), ManifestTable.schema(spark, destPath))
      val (_, aligned) = SchemaDrift.align(dest, deduped)
      ManifestTable.merge(spark, destPath, aligned, pk, mergeSchema = true)
    }
  }

  private val CommitPrefix = "_commit_"

  private def committedVersions(f: FileSystem, root: Path): Seq[Long] =
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(CommitPrefix))
      .map(_.stripPrefix(CommitPrefix).toLong)

  private def versionDir(root: Path, v: Long): Path =
    new Path(root, f"v$v%08d")

  /** The schema a version was written with, stored beside its data. The
    * leading `_` hides it from the parquet reader.
    */
  private val SchemaFile = "_graft_schema.json"

  /** Read one version directory. With its stored schema the read plans
    * without a job; parquet schema inference merges footers in a job on
    * every read. A version without the file (written before the schema was
    * stored) is inferred. The stored schema is the written DataFrame's, and
    * the file source makes every field nullable either way, so both reads
    * give the same schema.
    */
  private def readVersionDir(spark: SparkSession, dir: Path): DataFrame = {
    val stored =
      try {
        val in = fs(spark).open(new Path(dir, SchemaFile))
        try Some(DataType.fromJson(new String(in.readAllBytes(), "UTF-8")).asInstanceOf[StructType])
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    stored.fold(spark.read)(spark.read.schema).parquet(dir.toString)
  }

  /** Reader-safe full-table swap: the commit-marker layout.
    *
    * {{{
    * tableRoot/
    *   v00000001/  ...parquet        (data, written first)
    *               _graft_schema.json (its schema, written after the data)
    *   _commit_00000001               (empty marker; the COMMIT POINT)
    *   v00000002/  _commit_00000002
    * }}}
    *
    * Data is written to a fresh version directory, its schema (`data.schema`
    * as JSON) beside it, so [[readCurrent]] reads without
    * parquet schema inference; the version is then published by
    * creating the commit marker — a single atomic file create
    * (`FileSystem.create(overwrite = false)`), so there is no instant at
    * which a reader resolving [[readCurrent]] sees a missing or
    * half-written table: before the marker exists they read the previous
    * version, after it they read the new one. A crash before the marker
    * leaves an orphan data dir that the next successful swap's GC removes.
    * Retention (`keepVersions`, >= 2): the latest N versions are kept so
    * in-flight readers of recent versions never have their files deleted
    * under them — size it to cover the longest reader scan divided by the
    * swap cadence; older versions and orphans are GC'd. Single writer per
    * table root.
    */
  def swapIntoVersioned(
      spark: SparkSession, tableRoot: String, data: DataFrame,
      keepVersions: Int = 2): Unit = {
    require(keepVersions >= 2,
      "keepVersions must be >= 2 (readers of the previous version must survive a swap)")
    val f = fs(spark)
    val root = new Path(tableRoot)
    val next = committedVersions(f, root).maxOption.getOrElse(0L) + 1L
    val dir = versionDir(root, next)
    data.write.mode("overwrite").parquet(dir.toString)
    val out = f.create(new Path(dir, SchemaFile), true)
    try out.write(data.schema.json.getBytes("UTF-8")) finally out.close()
    val marker = new Path(root, f"$CommitPrefix$next%08d")
    f.create(marker, false).close() // atomic publish; fails if it exists
    // GC: drop committed versions older than the keepVersions newest, plus
    // any orphan vNNNNNNNN data dirs with no marker (crashed pre-commit
    // swaps)
    val keep = committedVersions(f, root).sorted.takeRight(keepVersions).toSet
    f.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(CommitPrefix) && !keep(n.stripPrefix(CommitPrefix).toLong))
        f.delete(st.getPath, false)
      if (n.matches("v\\d{8}")) {
        val v = n.drop(1).toLong
        if (!keep(v) && v != next) f.delete(st.getPath, true)
      }
    }
  }

  /** Resolve the current committed version of a [[swapIntoVersioned]]
    * table: max over commit markers (a single atomic listing — no rename
    * window to race). Submits no job (the version's stored schema is read).
    */
  def readCurrent(spark: SparkSession, tableRoot: String): DataFrame = {
    val root = new Path(tableRoot)
    val vs = committedVersions(fs(spark), root)
    require(vs.nonEmpty, s"no committed version under $tableRoot")
    readVersionDir(spark, versionDir(root, vs.max))
  }

  /** All committed versions of a [[swapIntoVersioned]] table, ascending —
    * only versions inside the retention window survive GC, so this is
    * also the time-travel horizon.
    */
  def listVersions(spark: SparkSession, tableRoot: String): Seq[Long] =
    committedVersions(fs(spark), new Path(tableRoot)).sorted

  /** Inter-stage handoff (S3): the reference shuttles rows between Airflow
    * tasks via XCom; in one SparkSession the lazy plan needs no handoff at
    * all, and a durable checkpoint between pipeline stages is a parquet
    * round-trip (also truncates lineage for iterative jobs).
    */
  def handoff(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
