package graft.operators

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Manifest-backed table format: multi-file ATOMIC commits, snapshot
  * time travel over SHARED immutable data files, per-file min/max stats
  * for planning-time file skipping, and an incremental changes feed —
  * the transactional-log ideas of Delta/Iceberg (re-expressed from
  * scratch on `FileSystem` + parquet; the reference's warehouse tables
  * get the same guarantees from Postgres, themovies.py:16-150).
  *
  * Layout:
  * {{{
  * tableRoot/
  *   data/b-3f9a1c.../part-*.parquet (immutable; never rewritten)
  *   data/b-87be22.../part-*.parquet
  *   claim-00000001                  (version fence; zero bytes)
  *   manifest-00000001.json          (snapshot: file list + stats)
  *   manifest-00000002.json          (append: first batch + second)
  * }}}
  *
  * COMMIT POINT: the manifest file appears via write-temp-then-rename —
  * a single atomic rename, so a reader resolving the latest manifest
  * sees either the old snapshot or the new one, never a partial table.
  * Unlike [[Sinks.swapIntoVersioned]] (which copies the full table per
  * version), appends here add only the new files: snapshot N+1's
  * manifest references snapshot N's files in place, so time travel and
  * retention are metadata-only until [[vacuum]].
  *
  * 100 TB design: data files are immutable and shared across snapshots
  * (an append commit writes only the batch); per-file stats are
  * collected with ONE partial-agg pass over the just-written batch
  * (`groupBy(input_file_name())` — the driver holds one row per file,
  * same cardinality as the manifest itself); [[scanRange]] prunes files
  * on the DRIVER from manifest stats before Spark ever lists or opens
  * them, which is what makes a needle query on a 100 TB range-clustered
  * table read MB not TB. CONCURRENT writers are safe: version numbers
  * are fenced by an atomic create-exclusive claim file and commit()
  * retries allocation on a lost race (appends re-base onto the winner's
  * snapshot) — run [[vacuum]] from one coordinator, though, since it
  * deletes what nothing retained references.
  */
object ManifestTable {

  final case class ColStats(min: Option[String], max: Option[String], nulls: Long)

  /** `blooms`: optional per-file bloom filters (column → base64 bitset,
    * built by [[buildBloomIndex]]) — the point-lookup skipping index
    * min/max stats cannot provide on unclustered columns. Absence means
    * "no index", never "not present" — [[scanKeys]] keeps unindexed
    * files.
    */
  final case class FileEntry(path: String, rows: Long, bytes: Long,
      stats: Map[String, ColStats], blooms: Map[String, String] = Map.empty)

  /** Merge-on-read deletion vector: a parquet directory of deleted keys
    * plus the EXPLICIT file scope it applies to (the candidate files at
    * delete time, after stats pruning). Scoping by file — not table-wide
    * by key — is what keeps the semantics honest: a row appended AFTER
    * the delete with a tombstoned key is a new row, not retroactively
    * deleted (the Delta/Iceberg DV contract, keyed instead of
    * row-indexed).
    */
  final case class Tombstone(path: String, rows: Long, bytes: Long,
      keyCol: String, appliesTo: Seq[String])

  /** `txn` is the streaming idempotence ledger: highest batchId applied
    * per writer app (the Delta `txn` action shape) — carried forward
    * across ALL commit modes so a stream restarted after a [[compact]]
    * still detects its replays. `tombstones` are the outstanding
    * merge-on-read deletes ([[deleteKeysMor]]); reads subtract them,
    * [[rewriteDeletes]]/[[compact]] materialize and clear them.
    */
  final case class Manifest(version: Long, mode: String, schemaDdl: String,
      statsCols: Seq[String], files: Seq[FileEntry],
      txn: Map[String, Long] = Map.empty,
      tombstones: Seq[Tombstone] = Seq.empty)

  /** Pruned scan result: the superset DataFrame plus the skip evidence
    * (specs and plan audits assert `filesScanned < filesTotal`).
    */
  final case class PrunedScan(df: DataFrame, filesScanned: Int, filesTotal: Int)

  /** Copy-on-write evidence: how many files the op kept untouched,
    * dropped from metadata alone (zero IO), and actually rewrote —
    * the numbers that make "merge touched 3 of 40 000 files" auditable.
    */
  final case class CowStats(version: Long, filesKept: Int, filesDropped: Int,
      filesRewritten: Int)

  private val ManifestPrefix = "manifest-"
  private val mapper = new ObjectMapper()

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: Path, v: Long): Path =
    new Path(root, f"$ManifestPrefix$v%08d.json")

  private def committedVersions(f: FileSystem, root: Path): Seq[Long] =
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(ManifestPrefix) && n.endsWith(".json") && !n.endsWith(".tmp"))
      .map(_.stripPrefix(ManifestPrefix).stripSuffix(".json").toLong)

  private val ClaimPrefix = "claim-"

  private def claimPath(root: Path, v: Long): Path =
    new Path(root, f"$ClaimPrefix$v%08d")

  private def claimedVersions(f: FileSystem, root: Path): Seq[Long] =
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(ClaimPrefix))
      .map(_.stripPrefix(ClaimPrefix).toLong)

  def listVersions(spark: SparkSession, tableRoot: String): Seq[Long] =
    committedVersions(fs(spark), new Path(tableRoot)).sorted

  /** TIMESTAMP AS OF resolution (the Delta/Iceberg time-travel-by-time
    * contract): the newest version whose manifest was PUBLISHED at or
    * before `tsMillis`. Publish time is the manifest file's own
    * modification time — the rename that makes a commit visible is
    * what stamps it, so no format change and no clock the writer could
    * forget to set; readers resolve from a directory listing alone.
    * Fails if the table has no version that old (it may have been
    * vacuumed — same contract as a GC'd version number).
    */
  def versionAsOf(spark: SparkSession, tableRoot: String,
      tsMillis: Long): Long = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    val vs = committedVersions(f, root)
      .filter(v => f.getFileStatus(manifestPath(root, v))
        .getModificationTime <= tsMillis)
    require(vs.nonEmpty,
      s"no snapshot under $tableRoot published at or before $tsMillis " +
        "(older versions may have been vacuumed)")
    vs.max
  }

  /** [[read]] at the snapshot current as of `tsMillis` ([[versionAsOf]]). */
  def readAsOf(spark: SparkSession, tableRoot: String,
      tsMillis: Long): DataFrame =
    read(spark, tableRoot, Some(versionAsOf(spark, tableRoot, tsMillis)))

  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` shape):
    * a NEW table whose v1 manifest references the SOURCE's current data
    * files BY ABSOLUTE PATH — zero data copied at any table size; the
    * dev/test/experiment fork primitive. The clone then lives its own
    * life: its appends/merges land as clone-local relative files and
    * never touch the source; source commits after the clone are
    * invisible to it (it pinned a snapshot). Outstanding MOR tombstones
    * are forbidden (their scopes are source-relative) — materialize
    * first, like [[merge]].
    *
    * The shared-file hazard is the same one Delta documents: `vacuum`
    * on the SOURCE can retire files the clone still references (the
    * clone's own vacuum is safe — it only deletes under the clone's
    * root). Run source vacuums with clone lifetimes in mind.
    */
  def shallowClone(spark: SparkSession, srcRoot: String,
      destRoot: String): Long = {
    val f = fs(spark)
    val src = new Path(srcRoot)
    val m = resolve(f, src, None)
    require(m.tombstones.isEmpty,
      "shallow-clone over outstanding merge-on-read deletes would mis-scope " +
        "their source-relative file lists; run rewriteDeletes or compact first")
    val dest = new Path(destRoot)
    require(!f.exists(dest) || committedVersions(f, dest).isEmpty,
      s"destination $destRoot already holds a table")
    val qualified = f.makeQualified(src)
    val absolute = m.files.map(fe =>
      fe.copy(path = new Path(qualified, fe.path).toString))
    publish(f, dest, "clone", m.statsCols, None, 5, expectParent = None) { _ =>
      (m.schemaDdl, absolute, Seq.empty)
    }
  }

  /** A snapshot's data file paths, table-relative — the audit surface
    * for copy-on-write evidence (which files a [[merge]]/[[deleteRange]]
    * carried by reference vs rewrote).
    */
  def listFiles(spark: SparkSession, tableRoot: String,
      version: Option[Long] = None): Seq[String] = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    resolve(f, root, version).files.map(_.path)
  }

  /** The manifest's full file ENTRIES (path, rows, bytes, stats) at
    * `version` — the introspection surface file-carry audits compare
    * across commits: a carried file's whole entry is equal, not just
    * its path.
    */
  def listEntries(spark: SparkSession, tableRoot: String,
      version: Option[Long] = None): Seq[FileEntry] = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    resolve(f, root, version).files
  }

  def currentVersion(spark: SparkSession, tableRoot: String): Long = {
    val vs = committedVersions(fs(spark), new Path(tableRoot))
    require(vs.nonEmpty, s"no committed snapshot under $tableRoot")
    vs.max
  }

  // ------------------------------------------------------------- commit

  /** Commit a batch as the next snapshot. `append = false` replaces the
    * table's file list with the batch's files (logical truncate — prior
    * files stay on disk for time travel until [[vacuum]]); `append = true`
    * extends the parent snapshot's list, with a strict schema check (a
    * transactional table's schema evolves by explicit DDL, not silently
    * per batch) unless `mergeSchema = true` (the drift-tolerant path
    * [[Sinks.appendInto]] takes), which allows ADDITIVE evolution: the batch may
    * add new columns (and may omit existing ones). The snapshot's schema
    * becomes the union, and the read path projects every file through
    * it — files written before a column existed yield NULL for it,
    * exactly the Delta `mergeSchema`/Iceberg add-column contract. A
    * TYPE-drifted column evolves by SIDECAR (the [[SchemaDrift]]
    * `{name}_{type}` discipline): the batch's drifted column is renamed
    * to the sidecar before its data is written, the original column
    * keeps its type (drifted rows read NULL there), and pre-drift files
    * read NULL for the sidecar. In-place retyping of a column stays an
    * explicit rewrite, never a silent per-batch drift.
    *
    * CONCURRENT writers are safe: version allocation retries on a lost
    * manifest rename (appends re-base onto the winner; see the publish
    * loop). `txn = Some(appId -> batchId)` makes the commit IDEMPOTENT
    * per writer app: a replay whose batchId is <= the table's recorded
    * high-water mark for that app is skipped (no new version; the
    * already-containing version is returned) — the exactly-once contract
    * [[streamInto]] builds on. An append with no `statsCols` collects
    * the stats the table already tracks. Returns the committed version
    * number.
    */
  def commit(spark: SparkSession, tableRoot: String, batch: DataFrame,
      statsCols: Seq[String] = Seq.empty, append: Boolean = false,
      maxRetries: Int = 5, txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false): Long = {
    require(!mergeSchema || append,
      "mergeSchema only applies to appends; an overwrite already replaces the schema")
    val f = fs(spark)
    val root = new Path(tableRoot)
    // ONE pre-claim snapshot read serves both the replay fast path and
    // the mergeSchema conformance below (publish re-reads post-claim
    // anyway — that one is load-bearing, these two were duplicates)
    val snap0 = latest(f, root)
    // an append that names no stats columns tracks the table's own, so
    // every load path composes with the one that created the table
    val stats =
      if (append && statsCols.isEmpty) snap0.fold(statsCols)(_.statsCols) else statsCols
    // replay fast path: already applied per the latest snapshot → no
    // data write at all (the post-claim re-check in publish closes the
    // race against a concurrent replay of the same batch)
    txnAppliedIn(snap0, txn) getOrElse {
      // TYPE-WIDENING evolution (mergeSchema): a column whose type
      // drifted against the snapshot lands in a `{name}_{type}` SIDECAR
      // (the [[SchemaDrift]] discipline — reference semantics,
      // etl.py:263-276): the batch's drifted columns are RENAMED to
      // their sidecar names BEFORE the data write, so every file on
      // disk agrees with the snapshot schema for the columns it
      // carries; pre-drift files simply lack the sidecar and project
      // NULL, and the original column reads NULL for drifted rows.
      // The union DDL in the publish step then stays purely additive.
      val conformed =
        if (!(append && mergeSchema)) batch
        else snap0 match {
          case None => batch
          case Some(p) =>
            val dest = StructType.fromDDL(p.schemaDdl)
            val changes = SchemaDrift.diff(dest,
              StructType(batch.schema.fields.map(_.copy(nullable = true)))).typeChanges
            changes.foldLeft(batch)((b, tc) =>
              b.withColumnRenamed(tc.name, tc.sidecarName))
        }
      // nullability normalized away: parquet does not round-trip NOT
      // NULL, so identical batches can disagree on it spuriously
      val schemaDdl = StructType(conformed.schema.fields.map(_.copy(nullable = true))).toDDL
      stats.foreach { c =>
        require(conformed.columns.contains(c),
          s"stats column $c absent from the batch (a type-drifted stats column " +
            "rides its sidecar name; track the sidecar or rewrite the table)")
        val dt = conformed.schema(c).dataType
        require(statsComparable(dt), s"stats column $c has unsupported type $dt " +
          "(numeric, string, date and timestamp min/max order is portable; others are not)")
      }
      val (newEntries, _) = writeBatch(spark, f, root, conformed, stats)
      try publish(f, root, if (append) "append" else "overwrite",
        stats, txn, maxRetries, expectParent = None) { parent =>
        parent.filter(_ => append).foreach { p =>
          if (!mergeSchema) require(p.schemaDdl == schemaDdl,
            s"append schema mismatch: table is <${p.schemaDdl}>, batch is <$schemaDdl> " +
              "(pass mergeSchema = true for additive evolution)")
          require(stats == p.statsCols,
            s"append stats columns mismatch: table tracks ${p.statsCols}, batch asked for $stats")
        }
        val snapshotDdl = parent match {
          case Some(p) if append && mergeSchema => unionDdl(p.schemaDdl, conformed.schema)
          case _ => schemaDdl
        }
        (snapshotDdl,
          (if (append) parent.map(_.files).getOrElse(Seq.empty) else Seq.empty) ++ newEntries,
          if (append) parent.map(_.tombstones).getOrElse(Seq.empty) else Seq.empty)
      } catch {
        // the sidecar conformance above was computed against snap0; a
        // CONCURRENT writer changing a column's type between that read
        // and publish's post-claim parent surfaces here (a batch's own
        // type drift can't — conformance already sidecarred it). The
        // written batch dir carries the stale column names and cannot
        // be re-labeled, so retry the WHOLE commit: re-conform against
        // the fresh snapshot and rewrite (the abandoned dir is
        // unreferenced — vacuum's job, the same orphan class a crashed
        // writer leaves).
        case _: ConcurrentTypeConflict if mergeSchema && maxRetries > 0 =>
          commit(spark, tableRoot, batch, statsCols, append,
            maxRetries - 1, txn, mergeSchema)
      }
    }
  }

  /** A mergeSchema append discovered at publish time that the snapshot's
    * column types moved under it (concurrent writer) — retryable by
    * re-conforming; see the catch in [[commit]].
    */
  private final class ConcurrentTypeConflict(msg: String)
    extends IllegalArgumentException(msg)

  /** Additive schema union: every batch column already in the table must
    * keep its type; batch-only columns append after the table's, so the
    * evolved schema is stable regardless of batch column order.
    */
  private def unionDdl(parentDdl: String, batchSchema: StructType): String = {
    val p = StructType.fromDDL(parentDdl)
    val b = StructType(batchSchema.fields.map(_.copy(nullable = true)))
    b.fields.foreach { bf =>
      p.fields.find(_.name == bf.name).foreach { pf =>
        if (pf.dataType != bf.dataType)
          throw new ConcurrentTypeConflict(
            s"column ${bf.name} type changed: table has ${pf.dataType}, batch has " +
              s"${bf.dataType} — the snapshot's types moved after sidecar " +
              "conformance (concurrent writer); the commit retries with a fresh snapshot")
      }
    }
    StructType(p.fields ++ b.fields.filterNot(bf => p.fieldNames.contains(bf.name))).toDDL
  }

  /** Write a batch under a fresh nonce dir and collect its file stats.
    * Batch dir names carry a NONCE, not the version: the data write
    * happens before version allocation and can never collide with a
    * concurrent writer's, so the manifest rename in [[publish]] is the
    * only race point — which is what makes it retryable (optimistic
    * concurrency, the Delta commit-protocol shape). Data is written
    * exactly once; only the metadata loop repeats. A crashed or skipped
    * attempt leaves an unreferenced dir for [[vacuum]].
    */
  private def writeBatch(spark: SparkSession, f: FileSystem, root: Path,
      batch: DataFrame, statsCols: Seq[String]): (Seq[FileEntry], String) = {
    val batchRel = s"data/b-${java.util.UUID.randomUUID.toString.take(12)}"
    val batchDir = new Path(root, batchRel)
    batch.write.mode("overwrite").parquet(batchDir.toString)
    (collectFileStats(spark, f, batchDir, batchRel, statsCols), batchRel)
  }

  private def latest(f: FileSystem, root: Path): Option[Manifest] =
    committedVersions(f, root).maxOption.map(v => loadManifest(f, root, v))

  /** The version already containing this txn's batch, if the commit
    * would be a replay (batchId at or below the app's high-water mark).
    */
  private def txnAppliedIn(parent: Option[Manifest],
      txn: Option[(String, Long)]): Option[Long] =
    for {
      (app, bid) <- txn; p <- parent; seen <- p.txn.get(app) if seen >= bid
    } yield p.version

  /** The claim-fenced optimistic publish loop shared by every commit
    * mode. `build(parent)` produces the new snapshot's (schema, file
    * list, tombstones); `expectParent` (merge/delete) aborts if the
    * snapshot moved since the caller planned its rewrite against it.
    */
  private def publish(f: FileSystem, root: Path, mode: String,
      statsCols: Seq[String], txn: Option[(String, Long)],
      maxRetries: Int, expectParent: Option[Long])
      (build: Option[Manifest] => (String, Seq[FileEntry], Seq[Tombstone])): Long = {
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      attempt += 1
      // Same-JVM racers (local[n], tests, one driver hosting many
      // streaming queries) are serialized outright by a per-root
      // monitor: the local/checksum FileSystem implements
      // create(overwrite = false) as check-then-create, so the claim
      // file alone cannot fence two threads of one process there.
      lockFor(root).synchronized {
      // allocate over PUBLISHED and CLAIMED versions: a crashed writer's
      // claim burns its number (readers never see it — no manifest), and
      // live racers are fenced by the claim itself
      val next = math.max(committedVersions(f, root).maxOption.getOrElse(0L),
        claimedVersions(f, root).maxOption.getOrElse(0L)) + 1L

      // Version CLAIM: a zero-byte create(overwrite = false). On HDFS
      // and ABFS that call is atomic-exclusive and fences writers in
      // DIFFERENT processes; on the local/checksum FileSystem it is
      // only best-effort (check-then-create) — in-process racers are
      // covered by the monitor above, and cross-PROCESS writers on a
      // raw local filesystem remain best-effort, the same caveat Delta
      // Lake documents for S3 without a coordinating LogStore. A lost
      // rename below is therefore handled as a lost race, never
      // assumed impossible.
      val won =
        try { f.create(claimPath(root, next), false).close(); true }
        catch { case _: java.io.IOException => false }
      if (!won) {
        require(attempt <= maxRetries,
          s"commit lost the version race $maxRetries times under $root - " +
            "persistent writer contention; coordinate writers or raise maxRetries")
      } else {
        // The parent snapshot is read ONLY NOW — after the claim, and
        // after the previous claimant either publishes, abandons its
        // claim (replay skip), or is declared crashed (claim without
        // manifest past the wait): reading it any earlier could re-base
        // an append onto a stale parent and silently drop a concurrent
        // writer's files. A genuinely live-but-slower predecessor is
        // indistinguishable from a crashed one on a bare FileSystem (the
        // reason Delta-on-S3 grew a lock service); the wait bounds that
        // window, it cannot close it.
        if (next > 1 && f.exists(claimPath(root, next - 1))) {
          val deadline = System.currentTimeMillis() + parentWaitMs
          while (!f.exists(manifestPath(root, next - 1)) &&
            f.exists(claimPath(root, next - 1)) &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
        }
        val parent = latest(f, root)
        txnAppliedIn(parent, txn) match {
          case Some(v) =>
            // a concurrent replay of the same batch won the race between
            // our fast path and our claim: abandon the claim (successors
            // stop waiting on it — see the loop condition above) and
            // point the caller at the version that already has the rows
            f.delete(claimPath(root, next), false)
            committed = v
          case None =>
            expectParent.foreach { pv =>
              if (!parent.map(_.version).contains(pv)) {
                f.delete(claimPath(root, next), false)
                throw new IllegalStateException(
                  s"snapshot moved from v$pv to v${parent.map(_.version).getOrElse(0L)} " +
                    s"while a $mode was planned against it under $root; re-run the $mode " +
                    "(its rewrite set is stale)")
              }
            }
            val txnMap = parent.map(_.txn).getOrElse(Map.empty) ++ txn
            // build() enforces the append contracts (schema equality,
            // stats columns, additive union) and can throw — release
            // the claim first, or every failed commit stalls the next
            // writer for the full parent-wait window on a claim that
            // will never publish
            val (schemaDdl, files, tombs) =
              try build(parent)
              catch {
                case t: Throwable =>
                  f.delete(claimPath(root, next), false)
                  throw t
              }
            val m = Manifest(next, mode, schemaDdl, statsCols, files, txnMap, tombs)
            val tmp = new Path(root,
              s"${ManifestPrefix}tmp-${java.util.UUID.randomUUID.toString.take(12)}.json.tmp")
            try {
              val out = f.create(tmp, true)
              out.write(renderManifest(m).getBytes(StandardCharsets.UTF_8))
              out.close()
            } catch {
              case t: Throwable => // same claim-release rule as build()
                f.delete(tmp, false)
                f.delete(claimPath(root, next), false)
                throw t
            }
            val dest = manifestPath(root, next)
            if (f.rename(tmp, dest)) {
              committed = next
            } else {
              // rename-to-existing is how a bare FileSystem reports
              // "someone else owns this version": a racer that also won
              // the (best-effort on local FS) claim published first.
              // That is one more lost race — clean up and re-enter the
              // retry loop against the new parent, never crash: the
              // batch data is already durable and the next attempt
              // re-plans on top of the winner's snapshot.
              f.delete(tmp, false)
              if (!f.exists(dest)) f.delete(claimPath(root, next), false)
              require(attempt <= maxRetries,
                s"commit lost the publish race $maxRetries times under $root - " +
                  "persistent writer contention; coordinate writers or raise maxRetries")
            }
        }
      }
      } // lockFor(root).synchronized
    }
    committed
  }

  /** In-process serialization of the claim→publish window, striped by
    * table root. Cross-process fencing still rides the claim file
    * (atomic-exclusive on HDFS/ABFS); this monitor closes the hole the
    * local filesystem leaves for threads of one JVM.
    */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(root: Path): Object =
    rootLocks.computeIfAbsent(root.toString, _ => new Object)

  /** How long a claim winner waits for its predecessor claimant to
    * publish before declaring the number burned (crashed writer).
    */
  private val parentWaitMs = 30000L

  /** One partial-agg pass over the just-written batch: per-file row
    * counts and min/max/null-count for the stats columns. Driver
    * materializes exactly one row per data file — the same cardinality
    * the manifest stores, so this collect is bounded by the manifest
    * size itself.
    */
  private def collectFileStats(spark: SparkSession, f: FileSystem,
      batchDir: Path, batchRel: String, statsCols: Seq[String]): Seq[FileEntry] = {
    // an all-empty batch (idle streaming micro-batch) may write no part
    // files at all — its commit is a file-less manifest, not a read error
    if (!f.listStatus(batchDir).exists(_.getPath.getName.endsWith(".parquet")))
      return Seq.empty
    val written = spark.read.parquet(batchDir.toString)
    val aggs = count(lit(1)).as("__rows") +: statsCols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"))
    }
    val perFile = written.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val sizes: Map[String, Long] = f.listStatus(batchDir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.getName -> st.getLen).toMap
    perFile.toSeq.map { r =>
      val name = new Path(r.getAs[String]("__file")).getName
      val stats = statsCols.map { c =>
        c -> ColStats(
          Option(r.getAs[String](s"__min_$c")),
          Option(r.getAs[String](s"__max_$c")),
          r.getAs[Long](s"__nulls_$c"))
      }.toMap
      FileEntry(s"$batchRel/$name", r.getAs[Long]("__rows"),
        sizes.getOrElse(name, 0L), stats)
    }.sortBy(_.path)
  }

  // ---------------------------------------------------------- streaming

  /** Exactly-once Structured Streaming sink — pass to `foreachBatch`:
    * {{{
    * df.writeStream
    *   .foreachBatch(ManifestTable.streamInto(root, "ingest", Seq("id")) _)
    * }}}
    * Each micro-batch becomes one append commit stamped
    * `txn = (queryName, batchId)`. foreachBatch is only AT-LEAST-once
    * (a restart replays the last batch whose sink effects weren't
    * checkpointed); the table's per-app batchId high-water mark turns
    * the replay into a no-op, so rows land EXACTLY once — the Delta
    * idempotent-sink contract, on this manifest log. `queryName` must be
    * stable across restarts and unique per logical stream (two streams
    * sharing a name would swallow each other's batches); concurrent
    * distinct streams are fine — commits claim-fence like any writer.
    */
  def streamInto(tableRoot: String, queryName: String,
      statsCols: Seq[String] = Seq.empty, mergeSchema: Boolean = false)(
      batch: DataFrame, batchId: Long): Unit = {
    commit(batch.sparkSession, tableRoot, batch, statsCols, append = true,
      txn = Some(queryName -> batchId), mergeSchema = mergeSchema)
    ()
  }

  // ------------------------------------------------------ copy-on-write

  /** Copy-on-write MERGE with the reference's row semantics
    * ([[Merge.merge]]: a matched row takes the `updates` image only when
    * a non-key, non-audit column changed, so a re-sent unchanged row
    * keeps its old `record_loaded_at`; unseen keys insert), rewriting
    * ONLY the files that hold a matching key. Three phases, each
    * strictly narrowing:
    *
    *  1. STATS PRUNE (driver-only, zero IO; [[keyPrune]]): files whose
    *     `[min,max]` on a `pk` column cannot contain any update key (or
    *     are all-NULL there — no NULL equals a key) are carried into the
    *     new snapshot by reference.
    *  2. PROBE (one semi-join; [[touchedFiles]]): among the candidates,
    *     the files that really contain a matching key.
    *  3. REWRITE: [[Merge.merge]] of the touched files with `updates`
    *     is written as one new batch; untouched candidates join group 1.
    *     A batch small beside the touched files is broadcast, a larger
    *     one shuffle-joined ([[mergeStrategy]]).
    *
    * On a 100 TB key-clustered table an update of one key range rewrites
    * a handful of files and never scans the rest — the manifest makes
    * "which files could match" a metadata question. Requires `updates`
    * to match the table schema (or `mergeSchema = true`, additive);
    * duplicate keys WITHIN `updates` are the caller's bug (dedup first,
    * as [[Sinks.upsertInto]] does). An empty `updates` commits nothing.
    * Commits mode "merge", which [[changes]] refuses to cross (history
    * is rewritten). Fails loudly if the snapshot moves between planning
    * and publish (the rewrite set would be stale) — re-run on a fresh
    * snapshot.
    */
  def merge(spark: SparkSession, tableRoot: String, updates: DataFrame,
      pk: Seq[String], maxRetries: Int = 5,
      mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None): CowStats = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, None)
    // replay fast path (the commit() contract for upserts): a batchId at
    // or below this app's high-water mark already merged — no data work,
    // no new version; publish re-checks post-claim against racers
    txnAppliedIn(Some(m), txn).foreach { v =>
      return CowStats(v, loadManifest(f, root, v).files.size, 0, 0)
    }
    require(m.tombstones.isEmpty,
      "merge over outstanding merge-on-read deletes would resurrect deleted rows " +
        "in rewritten files; run rewriteDeletes or compact first")
    val updDdl = StructType(updates.schema.fields.map(_.copy(nullable = true))).toDDL
    // mergeSchema follows the append-evolution contract (additive union,
    // retypes rejected by unionDdl): rewritten files and the updates both
    // project to the union schema (absent columns NULL); untouched files
    // carry physically narrow and read NULL through the snapshot schema,
    // exactly like pre-evolution appends
    val targetDdl =
      if (mergeSchema)
        unionDdl(m.schemaDdl,
          StructType(updates.schema.fields.map(_.copy(nullable = true))))
      else {
        require(m.schemaDdl == updDdl,
          s"merge schema mismatch: table is <${m.schemaDdl}>, updates is <$updDdl> " +
            "(pass mergeSchema = true for additive evolution)")
        m.schemaDdl
      }
    pk.foreach(k => require(updates.columns.contains(k),
      s"updates must carry the merge key '$k'"))
    val target = StructType.fromDDL(targetDdl)
    def align(df: DataFrame): DataFrame =
      df.select(target.fields.toIndexedSeq.map { fld =>
        if (df.columns.contains(fld.name)) col(fld.name)
        else lit(null).cast(fld.dataType).as(fld.name)
      }: _*)

    // one evaluation of the batch feeds the bounds, the probe and the
    // rewrite: a source evaluated once per action (a stream's micro-batch,
    // a wall-clock stamp) could probe other keys than it writes
    Pins.scoped { s =>
      val upd = s.pin(updates)
      val (n, bounds) = keyBounds(upd, pk)
      if (n == 0) CowStats(m.version, m.files.size, 0, 0)
      else {
        val (candidates, pruned) = keyPrune(m, bounds)
        val (rewrite, untouchedCand) = touchedFiles(spark, root, m, candidates,
          upd.select(pk.map(col): _*).distinct(), pk)
        val (newEntries, _) = writeBatch(spark, f, root,
          Merge.merge(align(dfFor(spark, root, m, rewrite)), align(upd), pk,
            mergeStrategy(spark, n, rewrite)),
          m.statsCols)
        val v = publish(f, root, "merge", m.statsCols, txn,
          maxRetries, expectParent = Some(m.version)) { _ =>
          (targetDdl, pruned ++ untouchedCand ++ newEntries, Seq.empty)
        }
        CowStats(v, pruned.size + untouchedCand.size, 0, rewrite.size)
      }
    }
  }

  /** Broadcast an `n`-row batch into the merge of `rewrite` only when it
    * is small beside those files (at most 1/8 of their rows) and, at
    * their bytes per row, within the session's broadcast budget
    * (`spark.sql.autoBroadcastJoinThreshold`, which a `broadcast` hint
    * ignores). Otherwise one shuffle join of the batch and the touched
    * files, which holds neither side in memory whole.
    */
  private def mergeStrategy(spark: SparkSession, n: Long,
      rewrite: Seq[FileEntry]): Merge.MergeStrategy = {
    val (rows, bytes) = (rewrite.map(_.rows).sum, rewrite.map(_.bytes).sum)
    val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (n * 8 <= rows && n.toDouble * bytes / rows <= budget)
      Merge.MergeStrategy.BroadcastSource
    else Merge.MergeStrategy.ShuffleFullOuter
  }

  /** `df`'s row count and, per key column, its `[min, max]` in the
    * stats' portable string form (`None`: no non-NULL value) — one job.
    */
  private def keyBounds(df: DataFrame, keys: Seq[String])
      : (Long, Map[String, Option[(String, String)]]) = {
    val r = df.agg(count(lit(1)), keys.flatMap(k =>
      Seq(min(col(k)).cast("string"), max(col(k)).cast("string"))): _*).head()
    (r.getLong(0), keys.zipWithIndex.map { case (k, i) =>
      k -> Option(r.getString(1 + 2 * i)).map(lo => (lo, r.getString(2 + 2 * i)))
    }.toMap)
  }

  /** The one key-stats prune (driver-only, zero IO): `m`'s files split
    * into the candidates that may hold a key inside `bounds` on EVERY
    * key column, and the rest. A key column with no non-NULL bound, or
    * an all-NULL file on it, cannot match (no NULL equals a key); a file
    * without stats on a key column stays a candidate.
    */
  private def keyPrune(m: Manifest, bounds: Map[String, Option[(String, String)]])
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val schema = StructType.fromDDL(m.schemaDdl)
    m.files.partition(fe => bounds.forall { case (k, b) =>
      (fe.stats.get(k), b) match {
        case (_, None) => false
        case (Some(ColStats(Some(mn), Some(mx), _)), Some((lo, hi))) =>
          val dt = schema(k).dataType
          cmp(dt, mx, lo) >= 0 && cmp(dt, mn, hi) <= 0
        case (Some(ColStats(None, None, _)), _) => false // all-NULL file
        case _ => true // key stats not tracked: must probe
      }
    })
  }

  /** The one touched-file probe: `candidates` split into the files with
    * a row that semi-joins `probe` on `on` (which may name [[RelCol]],
    * the row's file) and the rest. One job; its collect is distinct file
    * names, bounded by the manifest's own cardinality.
    */
  private def touchedFiles(spark: SparkSession, root: Path, m: Manifest,
      candidates: Seq[FileEntry], probe: DataFrame, on: Seq[String])
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val touched: Set[String] =
      if (candidates.isEmpty) Set.empty
      else withRelPath(dfFor(spark, root, m, candidates))
        .join(probe, on, "left_semi")
        .select(col(RelCol)).distinct().collect().map(_.getString(0)).toSet
    candidates.partition(fe => touched(new Path(fe.path).getName))
  }

  /** Copy-on-write range delete: removes rows whose `colName` lies in
    * `[lower, upper]` (portable string bounds, as in [[scanRange]];
    * `None` = unbounded; NULLs never match a range). Files classified
    * from manifest stats alone:
    *
    *  - DISJOINT range (or all-NULL): kept by reference, zero IO.
    *  - FULLY CONTAINED and NULL-free: dropped from METADATA alone —
    *    no file is opened. Retiring a day from a 100 TB time-clustered
    *    table is a manifest edit.
    *  - straddling the boundary: rewritten with the complement filter
    *    (NULL rows kept explicitly — a bare NOT BETWEEN would eat them).
    *
    * Commits mode "delete" (refused by [[changes]]); same
    * snapshot-moved fail-loud contract as [[merge]].
    */
  def deleteRange(spark: SparkSession, tableRoot: String, colName: String,
      lower: Option[String], upper: Option[String],
      maxRetries: Int = 5): CowStats = {
    require(lower.isDefined || upper.isDefined,
      "deleteRange with both bounds open would delete every non-NULL row; " +
        "commit an explicit truncation instead")
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, None)
    require(m.tombstones.isEmpty,
      "deleteRange over outstanding merge-on-read deletes would resurrect deleted " +
        "rows in rewritten files; run rewriteDeletes or compact first")
    require(m.statsCols.contains(colName),
      s"no stats collected for $colName (have: ${m.statsCols.mkString(", ")})")
    val dt = StructType.fromDDL(m.schemaDdl)(colName).dataType

    val (keeps, drops, rewrites) = {
      val k = Seq.newBuilder[FileEntry]; val d = Seq.newBuilder[FileEntry]
      val rw = Seq.newBuilder[FileEntry]
      m.files.foreach { fe =>
        fe.stats.get(colName) match {
          case Some(ColStats(Some(mn), Some(mx), nulls)) =>
            val disjoint = lower.exists(lo => cmp(dt, mx, lo) < 0) ||
              upper.exists(up => cmp(dt, mn, up) > 0)
            val contained = nulls == 0 &&
              lower.forall(lo => cmp(dt, mn, lo) >= 0) &&
              upper.forall(up => cmp(dt, mx, up) <= 0)
            if (disjoint) k += fe else if (contained) d += fe else rw += fe
          case Some(ColStats(None, None, _)) => k += fe // all-NULL file
          case _ => rw += fe // statless (can't arise today): rewrite is safe
        }
      }
      (k.result(), d.result(), rw.result())
    }
    val newEntries = if (rewrites.isEmpty) Seq.empty else {
      val c = col(colName)
      val inRange = (lower.map(lo => c >= lit(lo).cast(dt)) ++
        upper.map(up => c <= lit(up).cast(dt))).reduce(_ && _)
      val (entries, _) = writeBatch(spark, f, root,
        dfFor(spark, root, m, rewrites).where(c.isNull || !inRange), m.statsCols)
      entries
    }
    val v = publish(f, root, "delete", m.statsCols, None,
      maxRetries, expectParent = Some(m.version)) { _ =>
      (m.schemaDdl, keeps ++ newEntries, Seq.empty)
    }
    CowStats(v, keeps.size, drops.size, rewrites.size)
  }

  // ------------------------------------------------------- merge-on-read

  /** Merge-on-read key delete: instead of rewriting any data file, write
    * the (distinct, non-NULL) keys as a TOMBSTONE parquet and record in
    * the manifest which files it applies to — the candidate files whose
    * `[min, max]` on `keyCol` could hold a key (stats prune, driver-only,
    * zero table IO). Reads subtract tombstoned rows with one broadcast
    * anti-join on (key, file); [[rewriteDeletes]] or [[compact]]
    * materializes later, off the ingest latency path.
    *
    * The DV trade-off, explicitly: a COW delete pays file rewrites NOW so
    * reads stay pure scans; a MOR delete is O(|keys|) NOW and every read
    * pays a small anti-join until maintenance. At 100 TB that is the
    * difference between a GDPR erasure request costing a compaction cycle
    * at request time vs at the nightly maintenance window.
    *
    * File scoping means rows appended AFTER this delete are never
    * affected, even on a tombstoned key (new files are outside every
    * tombstone's `appliesTo`). Outstanding tombstones must share one
    * `keyCol`; [[merge]]/[[deleteRange]] refuse to run over them.
    * Commits mode "mor-delete" (refused by [[changes]]). Returns
    * [[CowStats]] with `filesRewritten = 0` — the point of MOR.
    */
  def deleteKeysMor(spark: SparkSession, tableRoot: String, keys: DataFrame,
      keyCol: String, maxRetries: Int = 5): CowStats = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, None)
    m.tombstones.headOption.foreach { tb =>
      require(tb.keyCol == keyCol,
        s"outstanding tombstones key on ${tb.keyCol}, this delete keys on $keyCol; " +
          "materialize with rewriteDeletes/compact before changing the delete key")
    }
    val dt = StructType.fromDDL(m.schemaDdl)(keyCol).dataType
    val k = keys.select(col(keyCol).cast(dt).as(keyCol))
      .where(col(keyCol).isNotNull).distinct()
    val (n, bounds) = keyBounds(k, Seq(keyCol))
    if (n == 0) CowStats(m.version, m.files.size, 0, 0)
    else {
      val applies = keyPrune(m, bounds)._1.map(_.path)
      if (applies.isEmpty) CowStats(m.version, m.files.size, 0, 0)
      else {
        val batchRel = s"data/b-${java.util.UUID.randomUUID.toString.take(12)}"
        val batchDir = new Path(root, batchRel)
        k.write.mode("overwrite").parquet(batchDir.toString)
        val bytes = f.listStatus(batchDir).toSeq
          .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
        val tomb = Tombstone(batchRel, n, bytes, keyCol, applies)
        val v = publish(f, root, "mor-delete", m.statsCols, None,
          maxRetries, expectParent = Some(m.version)) { _ =>
          (m.schemaDdl, m.files, m.tombstones :+ tomb)
        }
        CowStats(v, m.files.size, 0, 0)
      }
    }
  }

  /** Merge-on-read key UPSERT — the update-vector complement to
    * [[deleteKeysMor]], for the update-heavy changelog a 100 TB stream
    * applies where a COW [[merge]] would pay a full file rewrite per
    * touched file AT INGEST TIME. One atomic commit carries BOTH halves
    * of the overlay: the update rows land as a regular data file (new —
    * outside every tombstone's scope by construction) and their keys
    * land as an equality tombstone scoped to the stats-pruned candidate
    * files (the Iceberg equality-delete + data-file MOR shape; Hudi's
    * MOR upsert log is the same algebra). Reads compose through the
    * EXISTING subtract-then-union machinery untouched: the tombstone
    * anti-join removes each displaced base row, the appended file
    * supplies its replacement — so `read` after `updateKeysMor` equals
    * `read` after the COW `merge` of the same changelog, row for row
    * (spec + oracle pin the bit-equality). Keys absent from the base
    * insert (upsert semantics, same as merge).
    *
    * Maintenance IS [[rewriteDeletes]]: the update path reduces to
    * tombstones + ordinary files, so the one materializer clears update
    * vectors and delete vectors alike (run at compaction cadence) —
    * one mechanism, audited once, instead of a parallel rewriteUpdates
    * codepath that could drift.
    *
    * Contract mirrors [[deleteKeysMor]]: outstanding tombstones must
    * share `keyCol`; update keys must be non-NULL and UNIQUE in the
    * batch (two updates of one key in one batch have no defined winner
    * — pre-dedup with latest-wins upstream); commits mode "mor-update"
    * (refused by [[changes]]); returns [[CowStats]] with
    * `filesRewritten = 0` — the point of MOR. `txn = (app, batchId)`
    * gives the same exactly-once replay contract as [[merge]]/
    * [[commit]] — the streaming changelog seam
    * ([[graft.streaming.Streams.streamingMorUpdateSink]]).
    *
    * The replacement data file and tombstone parquet are written BEFORE
    * [[publish]]; on an expectParent conflict or exhausted claim retries
    * they stay on disk unreferenced until [[vacuum]] — the same
    * crashed-writer orphan class [[deleteKeysMor]] documents, just twice
    * the bytes (data file + tombstone).
    */
  def updateKeysMor(spark: SparkSession, tableRoot: String,
      updates: DataFrame, keyCol: String, maxRetries: Int = 5,
      txn: Option[(String, Long)] = None): CowStats = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, None)
    // replay fast path (the merge()/commit() idempotent-sink contract):
    // a batchId at or below this app's high-water mark already applied —
    // no data work, no new version; foreachBatch restarts replay the
    // last uncheckpointed batch, and this turns the replay into a no-op
    txnAppliedIn(Some(m), txn).foreach { v =>
      return CowStats(v, loadManifest(f, root, v).files.size, 0, 0)
    }
    m.tombstones.headOption.foreach { tb =>
      require(tb.keyCol == keyCol,
        s"outstanding tombstones key on ${tb.keyCol}, this update keys on $keyCol; " +
          "materialize with rewriteDeletes/compact before changing the key")
    }
    val schema = StructType.fromDDL(m.schemaDdl)
    // pin ONE evaluation of the changelog: the uniqueness check, the
    // bounds, the data file and the tombstone keys below must all see
    // the same rows — a nondeterministic source re-evaluated per action
    // could otherwise tombstone a key whose replacement row was never
    // written (silent row loss inside one "atomic" commit)
    val aligned = updates.select(schema.fields.map(fd =>
      col(fd.name).cast(fd.dataType).as(fd.name)).toIndexedSeq: _*)
      .localCheckpoint()
    val chk = aligned.agg(count(lit(1)).as("n"),
      count(col(keyCol)).as("nk"),
      countDistinct(col(keyCol)).as("nd")).head()
    val (n, nk, nd) = (chk.getLong(0), chk.getLong(1), chk.getLong(2))
    require(nk == n, s"updateKeysMor: ${n - nk} NULL $keyCol keys of $n — " +
      "a NULL key cannot tombstone its base row")
    require(nd == nk, s"updateKeysMor: batch has ${nk - nd} duplicate " +
      s"$keyCol keys — no defined winner; dedup latest-wins upstream")
    if (n == 0) CowStats(m.version, m.files.size, 0, 0)
    else {
      val applies = keyPrune(m, keyBounds(aligned, Seq(keyCol))._2)._1.map(_.path)
      // the replacement rows: an ordinary data file with full stats
      val (newEntries, _) = writeBatch(spark, f, root, aligned, m.statsCols)
      // the displacement keys: a tombstone scoped to the PRE-update
      // files only — the new file is never inside its own overlay
      val tombOpt = if (applies.isEmpty) Seq.empty else {
        val tombRel = s"data/b-${java.util.UUID.randomUUID.toString.take(12)}"
        val tombDir = new Path(root, tombRel)
        aligned.select(col(keyCol)).write.mode("overwrite")
          .parquet(tombDir.toString)
        val bytes = f.listStatus(tombDir).toSeq
          .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
        Seq(Tombstone(tombRel, n, bytes, keyCol, applies))
      }
      val v = publish(f, root, "mor-update", m.statsCols, txn,
        maxRetries, expectParent = Some(m.version)) { _ =>
        (m.schemaDdl, m.files ++ newEntries, m.tombstones ++ tombOpt)
      }
      CowStats(v, m.files.size, 0, 0)
    }
  }

  /** Materialize outstanding merge-on-read deletes: among the files any
    * tombstone applies to, probe which REALLY contain a tombstoned
    * (key, file) pair (one semi-join; the collect is distinct file
    * names, bounded by the manifest's own cardinality), rewrite only
    * those without their deleted rows, and commit a tombstone-free
    * snapshot — every other file carries by reference. The maintenance
    * half of the MOR bargain, run at compaction cadence: update-vector
    * tombstones ([[updateKeysMor]]) clear through this same pass —
    * their replacement rows are ordinary files that carry by reference.
    */
  def rewriteDeletes(spark: SparkSession, tableRoot: String,
      maxRetries: Int = 5): CowStats = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, None)
    if (m.tombstones.isEmpty) CowStats(m.version, m.files.size, 0, 0)
    else {
      val keyCol = m.tombstones.head.keyCol
      val inScope =
        m.tombstones.flatMap(_.appliesTo).map(p => new Path(p).getName).toSet
      val (candidates, outside) =
        m.files.partition(fe => inScope(new Path(fe.path).getName))
      val pairs = tombstonePairs(spark, root, m)
      val (rewrite, untouchedCand) =
        touchedFiles(spark, root, m, candidates, pairs, Seq(keyCol, RelCol))
      val newEntries = if (rewrite.isEmpty) Seq.empty else {
        val survivors = withRelPath(dfFor(spark, root, m, rewrite))
          .join(pairs, Seq(keyCol, RelCol), "left_anti").drop(RelCol)
        writeBatch(spark, f, root, survivors, m.statsCols)._1
      }
      val v = publish(f, root, "mor-rewrite", m.statsCols, None,
        maxRetries, expectParent = Some(m.version)) { _ =>
        (m.schemaDdl, outside ++ untouchedCand ++ newEntries, Seq.empty)
      }
      CowStats(v, outside.size + untouchedCand.size, 0, rewrite.size)
    }
  }

  /** The per-row source-file BASENAME. Part-file names carry writer
    * UUIDs (globally unique), so basename is the file identity that
    * survives both table-relative entries and a shallow clone's
    * absolute ones — [[Tombstone.appliesTo]] keeps storing full paths
    * for auditability, every match normalizes to basename.
    */
  private val RelCol = "__graft_file_name"

  private def withRelPath(df: DataFrame): DataFrame =
    df.withColumn(RelCol,
      regexp_extract(input_file_name(), "([^/]+)$", 1))

  /** The outstanding deletes as a broadcast (key, file) frame: each
    * tombstone's keys exploded across its `appliesTo` scope. Size is
    * |keys| x |scoped files| AFTER stats pruning — the same locality
    * that bounds [[merge]]'s rewrite set bounds this join's build side.
    */
  private def tombstonePairs(spark: SparkSession, root: Path, m: Manifest): DataFrame = {
    val keyCol = m.tombstones.head.keyCol
    broadcast(m.tombstones.map { tb =>
      spark.read.parquet(new Path(root, tb.path).toString)
        .select(col(keyCol),
          explode(typedLit(tb.appliesTo.map(p => new Path(p).getName)))
            .as(RelCol))
    }.reduce(_ unionByName _))
  }

  private def subtractTombstones(spark: SparkSession, root: Path,
      m: Manifest, df: DataFrame): DataFrame =
    if (m.tombstones.isEmpty) df
    else withRelPath(df)
      .join(tombstonePairs(spark, root, m),
        Seq(m.tombstones.head.keyCol, RelCol), "left_anti")
      .drop(RelCol)
      .select(StructType.fromDDL(m.schemaDdl).fieldNames.map(col).toIndexedSeq: _*)

  // --------------------------------------------------------------- read

  /** Read a snapshot (latest by default) from its EXPLICIT manifest file
    * list — no directory listing on the read path, so a 100 TB table's
    * read planning cost is the manifest, not a recursive namespace walk.
    */
  def read(spark: SparkSession, tableRoot: String, version: Option[Long] = None): DataFrame = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, version)
    subtractTombstones(spark, root, m, dfFor(spark, root, m, m.files))
  }

  private def resolve(f: FileSystem, root: Path, version: Option[Long]): Manifest = {
    val vs = committedVersions(f, root)
    require(vs.nonEmpty, s"no committed snapshot under $root")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v),
      s"version $v not committed under $root (retained: ${vs.sorted.mkString(", ")})")
    loadManifest(f, root, v)
  }

  private def dfFor(spark: SparkSession, root: Path, m: Manifest,
      files: Seq[FileEntry]): DataFrame = {
    val schema = StructType.fromDDL(m.schemaDdl)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.schema(schema).parquet(files.map(fe => new Path(root, fe.path).toString): _*)
  }

  /** File-skipping range scan: drop every file whose manifest [min,max]
    * for `colName` cannot intersect [lower, upper] — decided on the
    * driver from stats alone, before any file is opened. Bounds are in
    * the stats' portable string form (numbers as decimal strings,
    * timestamps as `yyyy-MM-dd HH:mm:ss[.f]`); `None` means unbounded on
    * that side. Returns the SUPERSET DataFrame (callers apply the exact
    * predicate; pruning never changes results, only file count) plus the
    * skip evidence. All-null files are skipped: a range predicate cannot
    * match NULL.
    */
  def scanRange(spark: SparkSession, tableRoot: String, colName: String,
      lower: Option[String], upper: Option[String],
      version: Option[Long] = None): PrunedScan = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, version)
    require(m.statsCols.contains(colName),
      s"no stats collected for $colName (have: ${m.statsCols.mkString(", ")})")
    val dt = StructType.fromDDL(m.schemaDdl)(colName).dataType
    val kept = m.files.filter { fe =>
      fe.stats.get(colName) match {
        case Some(ColStats(Some(mn), Some(mx), _)) =>
          lower.forall(lo => cmp(dt, mx, lo) >= 0) &&
            upper.forall(up => cmp(dt, mn, up) <= 0)
        case _ => false // all-null (or statless) file: BETWEEN can't match
      }
    }
    PrunedScan(subtractTombstones(spark, root, m, dfFor(spark, root, m, kept)),
      kept.size, m.files.size)
  }

  private def statsComparable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Order over the portable string form: numerics re-parsed exactly;
    * strings/dates/timestamps lexicographic (ISO renderings sort
    * chronologically).
    */
  private def cmp(dt: DataType, a: String, b: String): Int = dt match {
    case _: NumericType => BigDecimal(a).compare(BigDecimal(b))
    case _ => a.compareTo(b)
  }

  // ------------------------------------------------------------ changes

  /** Incremental consumption: the rows ADDED between two snapshots =
    * exactly the data files present in `toVersion`'s manifest but not in
    * `fromVersion`'s. Well-defined only across append commits (an
    * overwrite in the range rewrites history — fails fast), so a
    * downstream incremental job can checkpoint a version number and read
    * just the delta, never rescanning the base table
    * (the batch analog of [[IncrementalAgg]]'s streaming refresh).
    */
  def changes(spark: SparkSession, tableRoot: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    require(fromVersion < toVersion, s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val from = resolve(f, root, Some(fromVersion))
    val to = resolve(f, root, Some(toVersion))
    committedVersions(f, root).filter(v => v > fromVersion && v <= toVersion)
      .foreach { v =>
        val mode = loadManifest(f, root, v).mode
        // "index" commits carry the same data files with metadata-only
        // bloom additions — row-faithful, safe to cross
        require(mode == "append" || mode == "index",
          s"changes($fromVersion, $toVersion) crosses a non-append commit at v$v ($mode)")
      }
    val base = from.files.map(_.path).toSet
    dfFor(spark, root, to, to.files.filterNot(fe => base(fe.path)))
  }

  /** RESTORE the table to snapshot `version` (the Delta RESTORE /
    * Iceberg rollback shape): publish a NEW commit whose file list,
    * tombstones and schema are the target snapshot's — a metadata-only
    * operation that writes zero data files (shared immutable files
    * carry by reference, the same economics as time travel), while
    * HISTORY stays intact: the bad commits remain readable between the
    * target and the restore point, and [[vacuum]] keeps every file the
    * new head references. Rejects versions outside retention (their
    * manifest — and possibly their files — are gone). The restore
    * commit is mode "restore", so [[changes]] refuses to diff across it
    * exactly like a merge/delete (rows "reappearing" are not appends).
    */
  def restore(spark: SparkSession, tableRoot: String, version: Long): Long = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    val target = resolve(f, root, Some(version))
    publish(f, root, "restore", target.statsCols, None, 5,
      expectParent = None) { parent =>
      require(parent.nonEmpty, "restore requires an existing table")
      (target.schemaDdl, target.files, target.tombstones)
    }
  }

  // ------------------------------------------------------------- vacuum

  /** Retention: keep the newest `keepVersions` manifests, delete older
    * ones, then delete every data file referenced by NO retained
    * manifest — including batch dirs of crashed commits (data written,
    * manifest never published). Run by the single writer (so no commit
    * is in flight); size `keepVersions` to cover the longest concurrent
    * reader scan, as with [[Sinks.swapIntoVersioned]].
    */
  def vacuum(spark: SparkSession, tableRoot: String, keepVersions: Int = 2): Unit = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val f = fs(spark)
    val root = new Path(tableRoot)
    val vs = committedVersions(f, root).sorted
    val keep = vs.takeRight(keepVersions).toSet
    val kept = keep.toSeq.map(v => loadManifest(f, root, v))
    val referenced: Set[String] = kept.flatMap(_.files.map(_.path)).toSet
    // tombstones reference whole batch DIRS (a key set may span part files)
    val tombstoneDirs: Set[String] = kept.flatMap(_.tombstones.map(_.path)).toSet
    vs.filterNot(keep).foreach(v => f.delete(manifestPath(root, v), false))
    // claims of non-retained versions (incl. burned numbers below the
    // horizon) and orphaned manifest tmp files from crashed publishes
    claimedVersions(f, root).filter(_ < keep.minOption.getOrElse(Long.MaxValue))
      .foreach(v => f.delete(claimPath(root, v), false))
    f.listStatus(root).filter(_.getPath.getName.endsWith(".json.tmp"))
      .foreach(st => f.delete(st.getPath, false))
    val dataRoot = new Path(root, "data")
    if (f.exists(dataRoot)) f.listStatus(dataRoot).foreach { bdir =>
      val rel = s"data/${bdir.getPath.getName}"
      if (!tombstoneDirs(rel)) {
        f.listStatus(bdir.getPath).foreach { st =>
          val fileRel = s"$rel/${st.getPath.getName}"
          if (st.getPath.getName.endsWith(".parquet") && !referenced(fileRel))
            f.delete(st.getPath, false)
        }
        if (f.listStatus(bdir.getPath).forall(s => !s.getPath.getName.endsWith(".parquet")))
          f.delete(bdir.getPath, true)
      }
    }
  }

  // -------------------------------------------------------- maintenance

  /** Small-file compaction as a NEW overwrite commit: reads the current
    * snapshot, re-clusters it on the first stats column (compaction must
    * not destroy the min/max locality that [[scanRange]] skipping paid
    * for) into ceil(total/targetBytes) files, and commits. Outstanding
    * merge-on-read tombstones are MATERIALIZED on the way through (the
    * rewrite subtracts them, the overwrite commit clears them). History
    * stays readable — the pre-compaction snapshot and its small files
    * survive until [[vacuum]] retires them. Returns the new version.
    */
  def compact(spark: SparkSession, tableRoot: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, None)
    val total = m.files.map(_.bytes).sum
    val parts = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val df = subtractTombstones(spark, root, m, dfFor(spark, root, m, m.files))
    val clustered = m.statsCols.headOption match {
      case Some(c) => df.repartitionByRange(parts, col(c)).sortWithinPartitions(c)
      case None => df.repartition(parts)
    }
    commit(spark, tableRoot, clustered, m.statsCols)
  }

  /** OPTIMIZE ZORDER as a new overwrite commit: reads the current
    * snapshot (materializing outstanding MOR tombstones, like
    * [[compact]]), re-clusters it on the Morton interleave of two
    * numeric columns ([[Layout.zValue]], both dims min/max-normalized
    * to 16 bits), and commits — so manifest min/max stats become
    * selective on BOTH dimensions at once and [[scanBox]] prunes files
    * on either. The Delta OPTIMIZE ZORDER / Iceberg
    * rewrite-with-sort-order shape: layout maintenance is a COMMIT,
    * never an in-place rewrite — the pre-optimize snapshot stays
    * readable (and its exactly-once `txn` ledger carries) until
    * [[vacuum]] retires it. Returns the new version.
    */
  def optimizeZOrder(spark: SparkSession, tableRoot: String,
      c1: String, c2: String, numFiles: Int): Long =
    optimizeZOrder(spark, tableRoot, Seq(c1, c2), numFiles)

  /** K-dimensional OPTIMIZE ZORDER (k in [2, 4]): rewrite the snapshot
    * z-clustered on `cols` ([[Layout.withNormalizedZ]] — min/max-
    * normalized Morton interleave), committing the new layout with
    * stats on every clustering column so [[scanBox]]/[[scanBoxN]]
    * prunes files on EACH of them.
    */
  def optimizeZOrder(spark: SparkSession, tableRoot: String,
      cols: Seq[String], numFiles: Int): Long = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, None)
    val df = subtractTombstones(spark, root, m, dfFor(spark, root, m, m.files))
    val statsCols = (m.statsCols ++ cols).distinct
    val clustered = Layout.withNormalizedZ(df, cols) match {
      case None => df // a dim is all-null/empty
      case Some(z) =>
        z.repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
    }
    commit(spark, tableRoot, clustered, statsCols)
  }

  /** OPTIMIZE with the HILBERT curve instead of the z-curve — same
    * commit/stats contract as [[optimizeZOrder]], tighter per-file
    * boxes ([[Layout.withHilbertKey]]), so [[scanBoxN]] skips more
    * files for the same predicate. LayoutSpec measures the advantage.
    */
  def optimizeHilbert(spark: SparkSession, tableRoot: String,
      cols: Seq[String], numFiles: Int): Long = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, None)
    val df = subtractTombstones(spark, root, m, dfFor(spark, root, m, m.files))
    val statsCols = (m.statsCols ++ cols).distinct
    val clustered = Layout.withHilbertKey(df, cols) match {
      case None => df
      case Some(h) =>
        h.repartitionByRange(numFiles, col("__h"))
          .sortWithinPartitions(col("__h"))
          .drop("__h")
    }
    commit(spark, tableRoot, clustered, statsCols)
  }

  /** Two-dimensional file-skipping scan: [[scanRange]] on a BOX — a
    * file survives only when its manifest [min, max] intersects BOTH
    * column ranges, decided on the driver from stats alone. On a
    * [[optimizeZOrder]]-laid-out table either predicate alone prunes;
    * on a 1-D-clustered table only the cluster column does. Returns the
    * SUPERSET DataFrame (callers apply the exact predicate) plus skip
    * evidence.
    */
  def scanBox(spark: SparkSession, tableRoot: String,
      c1: String, lower1: Option[String], upper1: Option[String],
      c2: String, lower2: Option[String], upper2: Option[String],
      version: Option[Long] = None): PrunedScan =
    scanBoxN(spark, tableRoot,
      Seq((c1, lower1, upper1), (c2, lower2, upper2)), version)

  /** K-dimensional box scan: a file survives only when its manifest
    * [min, max] intersects EVERY `(col, lower, upper)` range, decided on
    * the driver from stats alone — the read-side pair of the k-dim
    * [[optimizeZOrder]] layout.
    */
  def scanBoxN(spark: SparkSession, tableRoot: String,
      preds: Seq[(String, Option[String], Option[String])],
      version: Option[Long] = None): PrunedScan = {
    require(preds.nonEmpty, "scanBoxN needs at least one column range")
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, version)
    preds.foreach { case (c, _, _) => require(m.statsCols.contains(c),
      s"no stats collected for $c (have: ${m.statsCols.mkString(", ")})") }
    val schema = StructType.fromDDL(m.schemaDdl)
    def intersects(fe: FileEntry, c: String,
        lower: Option[String], upper: Option[String]): Boolean =
      fe.stats.get(c) match {
        case Some(ColStats(Some(mn), Some(mx), _)) =>
          lower.forall(lo => cmp(schema(c).dataType, mx, lo) >= 0) &&
            upper.forall(up => cmp(schema(c).dataType, mn, up) <= 0)
        case _ => false // all-null/statless: a range predicate can't match
      }
    val kept = m.files.filter(fe =>
      preds.forall { case (c, lo, up) => intersects(fe, c, lo, up) })
    PrunedScan(subtractTombstones(spark, root, m, dfFor(spark, root, m, kept)),
      kept.size, m.files.size)
  }

  private val BloomHashes = 5

  /** BLOOM INDEX build — `CREATE INDEX` as a commit (the Delta
    * bloom-filter-index shape): one scan of the current snapshot
    * grouped by `input_file_name` aggregates an m-bit bloom of
    * `xxhash64(col)` per data file (distributed `bit_or` per 64-bit
    * word — the [[BloomJoin.buildBits]] scheme, per file), then a
    * METADATA-ONLY commit republished with the SAME files plus the
    * base64 bitsets. [[scanRange]]/[[scanBox]] prune RANGES from
    * min/max stats, which are useless for a point key on an
    * UNCLUSTERED column (every file's range covers it); [[scanKeys]]
    * prunes those from this index instead. History intact; the index
    * rides every later restore of this snapshot.
    *
    * Sizing: `numBits` per file (default 2^13 = 1 KiB base64 per file;
    * ≈1% false-positive at ~850 distinct keys/file — size up for
    * denser files). Conservative under MOR tombstones (a deleted key
    * may still probe true — false positives only, never false skips).
    * Returns the new version.
    *
    * `incremental = true` is the daily-loop mode (the q106/q143
    * economics): ONLY files missing a bloom for `colName` — i.e. those
    * appended since the last build — are scanned; every existing bloom
    * carries byte-identical. An index refresh after a day's appends
    * costs the day's data, never the table. No-op (current version,
    * no commit) when every file is already indexed.
    */
  def buildBloomIndex(spark: SparkSession, tableRoot: String,
      colName: String, numBits: Int = 1 << 13,
      incremental: Boolean = false): Long = {
    require(numBits >= 64 && numBits % 64 == 0 && numBits <= (1 << 20),
      s"numBits must be a multiple of 64 in [64, 2^20], got $numBits")
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, None)
    val schema = StructType.fromDDL(m.schemaDdl)
    require(schema.fieldNames.contains(colName), s"no column $colName")
    require(schema(colName).dataType.isInstanceOf[NumericType],
      s"bloom index needs a numeric key column, got ${schema(colName).dataType}")
    val toIndex =
      if (incremental) m.files.filterNot(_.blooms.contains(colName))
      else m.files
    if (toIndex.isEmpty) m.version
    else {
      // input_file_name() yields scheme-qualified URIs; part-file names
      // are UUID-unique, so basename is the join key (collectFileStats rule)
      val byName = toIndex.map(fe => new Path(fe.path).getName -> fe.path).toMap
      val positions = (0 until BloomHashes).map(i =>
        pmod(xxhash64(col(colName).cast("long"), lit(i)), lit(numBits.toLong)))
      val words = spark.read.schema(schema)
        .parquet(toIndex.map(fe => new Path(root, fe.path).toString): _*)
        .where(col(colName).isNotNull)
        .select(input_file_name().as("__f"),
          explode(array(positions: _*)).as("pos"))
        .groupBy(col("__f"), expr("CAST(pos DIV 64 AS INT)").as("word"))
        .agg(bit_or(expr("SHIFTLEFT(1L, CAST(pos % 64 AS INT))")).as("mask"))
        .collect() // bounded: files * numBits/64 rows
      val perFile = words.groupBy(r =>
        byName.getOrElse(new Path(r.getString(0)).getName, r.getString(0)))
      def b64Of(rows: Array[Row]): String = {
        val bits = new Array[Long](numBits / 64)
        rows.foreach(r => bits(r.getInt(1)) = r.getLong(2))
        val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
        bits.foreach(bb.putLong)
        java.util.Base64.getEncoder.encodeToString(bb.array())
      }
      val emptyB64 = b64Of(Array.empty)
      val fresh = byName.values.toSet
      val indexed = m.files.map { fe =>
        if (fresh(fe.path))
          fe.copy(blooms = fe.blooms +
            (colName -> perFile.get(fe.path).map(b64Of).getOrElse(emptyB64)))
        else fe // incremental mode: existing blooms carry byte-identical
      }
      publish(f, root, "index", m.statsCols, None, 5,
        expectParent = Some(m.version)) { _ =>
        (m.schemaDdl, indexed, m.tombstones)
      }
    }
  }

  /** Point-lookup file-skipping scan: keep only files whose bloom for
    * `colName` might contain AT LEAST ONE probe key; files without an
    * index entry are always kept (an index is an optimization, never a
    * correctness gate — the [[scanRange]] contract). Decided on the
    * driver from manifest bytes alone; callers apply the exact
    * predicate to the returned superset.
    */
  def scanKeys(spark: SparkSession, tableRoot: String, colName: String,
      keys: Seq[Long], version: Option[Long] = None): PrunedScan = {
    require(keys.nonEmpty, "scanKeys needs at least one probe key")
    val f = fs(spark)
    val root = new Path(tableRoot)
    val m = resolve(f, root, version)
    // RAW xxhash64 values computed once through the engine expression the
    // build used (the hash must agree bit-for-bit with itself, nothing
    // else); the pmod-to-numBits residue is taken per FILE below, since
    // bitset width can differ across index builds
    import spark.implicits._
    val hashRows = keys.toDF("k").select(
      (0 until BloomHashes).map(i =>
        xxhash64(col("k").cast("long"), lit(i)).as(s"h$i")): _*)
      .collect()
    def mightContain(b64: String): Boolean = {
      val bytes = java.util.Base64.getDecoder.decode(b64)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val bits = Array.fill(bytes.length / 8)(bb.getLong)
      val numBits = bits.length * 64L
      hashRows.exists { r =>
        (0 until BloomHashes).forall { i =>
          // Spark's pmod(a, b) = ((a % b) + b) % b — replicated exactly
          val pos = ((r.getLong(i) % numBits) + numBits) % numBits
          (bits((pos / 64).toInt) & (1L << (pos % 64).toInt)) != 0L
        }
      }
    }
    val kept = m.files.filter(fe =>
      fe.blooms.get(colName).forall(mightContain))
    PrunedScan(subtractTombstones(spark, root, m, dfFor(spark, root, m, kept)),
      kept.size, m.files.size)
  }

  /** Metadata-only snapshot comparison — the pipeline-health check that
    * costs ZERO table IO: per stats column, row/null counts and min/max
    * of two snapshots, straight from their manifests. A nightly load
    * whose null rate doubles or whose key range collapses is caught here
    * before anything downstream scans it.
    */
  def statsDrift(spark: SparkSession, tableRoot: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val f = fs(spark)
    val root = new Path(tableRoot)
    val from = resolve(f, root, Some(fromVersion))
    val to = resolve(f, root, Some(toVersion))
    val dt = StructType.fromDDL(to.schemaDdl)
    def rollup(m: Manifest, c: String): (Long, Long, Option[String], Option[String]) = {
      val ss = m.files.flatMap(_.stats.get(c))
      val mins = ss.flatMap(_.min)
      val maxs = ss.flatMap(_.max)
      (m.files.map(_.rows).sum, ss.map(_.nulls).sum,
        if (mins.isEmpty) None else Some(mins.min(Ordering.fromLessThan[String](cmp(dt(c).dataType, _, _) < 0))),
        if (maxs.isEmpty) None else Some(maxs.max(Ordering.fromLessThan[String](cmp(dt(c).dataType, _, _) < 0))))
    }
    val cols = from.statsCols.intersect(to.statsCols)
    val rows = cols.map { c =>
      val (rf, nf, mnf, mxf) = rollup(from, c)
      val (rt, nt, mnt, mxt) = rollup(to, c)
      Row(c, rf, rt, nf, nt, mnf.orNull, mnt.orNull, mxf.orNull, mxt.orNull)
    }
    val schema = StructType(Seq(
      StructField("column", StringType), StructField("rows_from", LongType),
      StructField("rows_to", LongType), StructField("nulls_from", LongType),
      StructField("nulls_to", LongType), StructField("min_from", StringType),
      StructField("min_to", StringType), StructField("max_from", StringType),
      StructField("max_to", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  // ----------------------------------------------------- (de)serialize

  private def renderManifest(m: Manifest): String = {
    val o = mapper.createObjectNode()
    o.put("version", m.version)
    o.put("mode", m.mode)
    o.put("schemaDdl", m.schemaDdl)
    val sc = o.putArray("statsCols"); m.statsCols.foreach(sc.add)
    if (m.txn.nonEmpty) {
      val tx = o.putObject("txn")
      m.txn.toSeq.sortBy(_._1).foreach { case (app, bid) => tx.put(app, bid) }
    }
    val fa = o.putArray("files")
    m.files.foreach { fe =>
      val fo = fa.addObject()
      fo.put("path", fe.path); fo.put("rows", fe.rows); fo.put("bytes", fe.bytes)
      val so = fo.putObject("stats")
      fe.stats.toSeq.sortBy(_._1).foreach { case (c, s) =>
        val co = so.putObject(c)
        s.min.fold[Unit] { co.putNull("min"); () } { v => co.put("min", v); () }
        s.max.fold[Unit] { co.putNull("max"); () } { v => co.put("max", v); () }
        co.put("nulls", s.nulls)
      }
      if (fe.blooms.nonEmpty) {
        val bo = fo.putObject("blooms")
        fe.blooms.toSeq.sortBy(_._1).foreach { case (c, b64) => bo.put(c, b64) }
      }
    }
    if (m.tombstones.nonEmpty) {
      val ta = o.putArray("tombstones")
      m.tombstones.foreach { tb =>
        val to = ta.addObject()
        to.put("path", tb.path); to.put("rows", tb.rows); to.put("bytes", tb.bytes)
        to.put("keyCol", tb.keyCol)
        val ap = to.putArray("appliesTo"); tb.appliesTo.foreach(ap.add)
      }
    }
    o.toPrettyString
  }

  private def loadManifest(f: FileSystem, root: Path, v: Long): Manifest = {
    val in = f.open(manifestPath(root, v))
    val node = try mapper.readTree(in) finally in.close()
    def arr(n: JsonNode): Seq[JsonNode] = {
      val b = new ArrayBuffer[JsonNode](n.size()); n.forEach(e => b += e); b.toSeq
    }
    val txn = Option(node.get("txn")).fold(Map.empty[String, Long]) { tn =>
      val b = Map.newBuilder[String, Long]
      tn.fieldNames().forEachRemaining(app => b += app -> tn.get(app).asLong())
      b.result()
    }
    val tombstones = Option(node.get("tombstones")).fold(Seq.empty[Tombstone]) { ta =>
      val b = new ArrayBuffer[Tombstone](ta.size())
      ta.forEach { tn =>
        val ap = new ArrayBuffer[String](tn.get("appliesTo").size())
        tn.get("appliesTo").forEach(p => ap += p.asText())
        b += Tombstone(tn.get("path").asText(), tn.get("rows").asLong(),
          tn.get("bytes").asLong(), tn.get("keyCol").asText(), ap.toSeq)
      }
      b.toSeq
    }
    Manifest(
      node.get("version").asLong(),
      node.get("mode").asText(),
      node.get("schemaDdl").asText(),
      arr(node.get("statsCols")).map(_.asText()),
      arr(node.get("files")).map { fn =>
        val statsNode = fn.get("stats").asInstanceOf[ObjectNode]
        val stats = {
          val b = Map.newBuilder[String, ColStats]
          statsNode.fieldNames().forEachRemaining { c =>
            val s = statsNode.get(c)
            b += c -> ColStats(
              if (s.get("min").isNull) None else Some(s.get("min").asText()),
              if (s.get("max").isNull) None else Some(s.get("max").asText()),
              s.get("nulls").asLong())
          }
          b.result()
        }
        val blooms = Option(fn.get("blooms")).fold(Map.empty[String, String]) { bn =>
          val b = Map.newBuilder[String, String]
          bn.fieldNames().forEachRemaining(c => b += c -> bn.get(c).asText())
          b.result()
        }
        FileEntry(fn.get("path").asText(), fn.get("rows").asLong(),
          fn.get("bytes").asLong(), stats, blooms)
      }, txn, tombstones)
  }
}
