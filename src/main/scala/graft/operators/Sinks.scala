package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Table sinks mirroring the reference's two load paths plus the XCom
  * stage-handoff (§2.1 S3/S4/S7, §3.3).
  *
  * Concurrency contract: [[swapInto]]/[[appendInto]]/[[upsertInto]]
  * assume a SINGLE WRITER per destination (the reference's Airflow DAG
  * serializes loads the same way). Readers concurrent with a rename-based
  * [[swapInto]] can glimpse a missing directory during the two-rename
  * window; readers that must never see that use the commit-marker layout
  * ([[swapIntoVersioned]]/[[readCurrent]]), whose commit point is a
  * single atomic file create. A table format with a transactional log
  * (Delta/Iceberg) is the production replacement for this whole seam.
  */
object Sinks {

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Pure existence probe — no filesystem mutation. (Self-healing of a
    * crashed [[swapInto]] lives in the writers, which own the
    * single-writer lock by contract; a read-sounding probe doing renames
    * could race a concurrent swap and corrupt the table.)
    */
  def tableExists(spark: SparkSession, path: String): Boolean =
    fs(spark).exists(new Path(path))

  /** The self-healing half of [[swapInto]]'s crash contract: a crash
    * between its two renames leaves no live table but a complete `.old`
    * backup (dest absent + `.old` present). Each writer repairs that state
    * on entry, before probing or writing, so the backed-up rows are never
    * silently dropped. Rename results are checked — Hadoop reports
    * rename-onto-existing and other failures as `false`, not exceptions.
    */
  private def healCrashWindow(f: FileSystem, dest: Path, bak: Path): Unit =
    if (!f.exists(dest) && f.exists(bak)) {
      require(f.rename(bak, dest),
        s"failed to restore crashed-swap backup $bak -> $dest")
    }

  /** The append path (`write_dataframe`, etl.py:27-86): dedup; if the table
    * does not exist, create it from the batch schema; else resolve schema
    * drift (added columns / type sidecars) against the existing table and
    * append. Drift against a parquet destination rewrites the table once
    * with the evolved schema (the analog of ALTER TABLE ADD COLUMN; a
    * metadata-only DDL on a warehouse-format sink).
    */
  def appendInto(spark: SparkSession, destPath: String, batch: DataFrame): Unit = {
    healCrashWindow(fs(spark), new Path(destPath), new Path(destPath + ".old"))
    val stamped = Audit.stamp(Dedup.fullRow(batch))
    if (!tableExists(spark, destPath)) {
      stamped.write.mode("overwrite").parquet(destPath)
    } else {
      val dest = spark.read.parquet(destPath)
      val (destAligned, batchAligned) = SchemaDrift.align(dest, stamped)
      if (SchemaDrift.diff(dest.schema, stamped.schema).isDrifted) {
        // evolved schema: rewrite once via staging swap, then the appended
        // batch lands in the new layout
        swapInto(spark, destPath, destAligned.unionByName(batchAligned))
      } else {
        batchAligned.write.mode("append").parquet(destPath)
      }
    }
  }

  /** The upsert path (MERGE, `etl.py:88-183`) for a parquet destination:
    * heal a crashed swap first, so the backed-up rows are merged rather
    * than lost; audit-stamp the batch (`etl.py:95`, as
    * [[JdbcSink.mergeInto]] does); resolve schema drift
    * ([[SchemaDrift.align]], as `etl.py:128-141` does before its MERGE);
    * then [[Merge.upsertBatch]] the batch (deduped on pk, the latest by
    * `orderCols` winning) into the table — or create the table from the
    * deduped batch — and publish the result through [[swapInto]]. A
    * re-sent unchanged row keeps its first stamp (the change predicate
    * skips audit columns); a changed or new row carries this load's.
    * Plain parquet has no transactional MERGE, so the whole table is
    * rewritten; a Delta/Iceberg sink replaces this with a real commit.
    */
  def upsertInto(spark: SparkSession, destPath: String, batch: DataFrame,
      pk: Seq[String], orderCols: Seq[String]): Unit = {
    healCrashWindow(fs(spark), new Path(destPath), new Path(destPath + ".old"))
    val stamped = Audit.stamp(batch)
    val merged =
      if (tableExists(spark, destPath)) {
        val (dest, aligned) = SchemaDrift.align(spark.read.parquet(destPath), stamped)
        Merge.upsertBatch(dest, aligned, pk, orderCols)
      } else Dedup.byKeyLatest(stamped, pk, orderCols)
    swapInto(spark, destPath, merged)
  }

  /** Atomic-ish write-new-then-swap for full-table rewrites. Plain parquet
    * has no transactional commit, so the swap is two directory renames
    * with a crash window between them: a failure after `dest -> .old` but
    * before `.staging -> dest` leaves NO live table — only the complete
    * `.old` backup, which the next writer restores on entry
    * ([[healCrashWindow]]). Single-writer by contract; every rename is
    * checked and fails loudly. Readers needing a window-free swap use
    * [[swapIntoVersioned]].
    */
  def swapInto(spark: SparkSession, destPath: String, data: DataFrame): Unit = {
    val f = fs(spark)
    val dest = new Path(destPath)
    val tmp = new Path(destPath + ".staging")
    val bak = new Path(destPath + ".old")
    healCrashWindow(f, dest, bak)
    data.write.mode("overwrite").parquet(tmp.toString)
    if (f.exists(bak)) f.delete(bak, true)
    if (f.exists(dest)) {
      require(f.rename(dest, bak), s"failed to back up $dest -> $bak")
    }
    require(f.rename(tmp, dest), s"failed to publish $tmp -> $dest")
    f.delete(bak, true)
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
    * as JSON) beside it, so [[readCurrent]]/[[readVersion]] read without
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

  /** Time-travel read of one committed version (the what-did-the-table-
    * say-then read every audit/backfill needs). Fails fast on a version
    * outside the retention window rather than resolving a GC'd directory.
    */
  def readVersion(spark: SparkSession, tableRoot: String, version: Long): DataFrame = {
    val root = new Path(tableRoot)
    val vs = committedVersions(fs(spark), root)
    require(vs.contains(version),
      s"version $version not committed under $tableRoot (retained: ${vs.sorted.mkString(", ")})")
    readVersionDir(spark, versionDir(root, version))
  }

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
