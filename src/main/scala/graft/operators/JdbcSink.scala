package graft.operators

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** RDBMS sink over Spark's JDBC source — the reference's actual load target
  * (every load path lands in PostgreSQL: `to_sql` appends at
  * `/root/reference/utilities/etl.py:51-56,77-83`, SQL MERGE at
  * `etl.py:179`). Mirrors [[Sinks]]' load API one-for-one (append, MERGE,
  * full-table swap) so pipelines swap destinations by swapping the sink
  * object.
  *
  * Tested against embedded Derby (the JDBC driver available offline); the
  * read/write paths are the generic `spark.read/write.format("jdbc")` ones.
  * The one dialect-sensitive statement this object issues itself — the
  * staging-swap rename — is routed per-dialect in [[renameSql]]
  * (`ALTER TABLE .. RENAME TO` for PostgreSQL and friends, `RENAME TABLE`
  * for Derby/MySQL); only the Derby branch is exercised offline.
  *
  * Scale notes:
  *  - writes are executor-parallel (one INSERT batch per input partition;
  *    `batchsize` below); reads are single-partition unless the caller
  *    passes partitioning options via [[Conn.readOptions]]
  *    (`partitionColumn`/`lowerBound`/`upperBound`/`numPartitions`) — at
  *    warehouse scale the RDBMS is the dimension/metadata store, never the
  *    100 TB fact side.
  *  - MERGE follows the reference's staging shape (`etl.py:153-179`): the
  *    post-merge image is computed by the engine's own [[Merge]] (dest never
  *    shuffled) and landed with write-staging-then-swap inside one
  *    transaction ([[swapInto]]). The manifest-table sink
  *    ([[Sinks.upsertInto]]) runs the same [[Merge]] on the touched files
  *    only.
  */
object JdbcSink {

  /** Spark's built-in Derby dialect maps StringType to CLOB, and Derby
    * cannot compare CLOB with CHAR — every pushed-down predicate on a
    * string column fails in-database. Registering a dialect that creates
    * VARCHAR string columns keeps filter pushdown working (the reason to
    * put a predicate-capable store behind the sink at all). Registered
    * ahead of the built-in, so it wins for derby URLs; unhandled types fall
    * through to Spark's common JDBC mapping, with the common choices Derby
    * rejects (TEXT, BIT, BYTE) overridden below.
    */
  private object VarcharDerbyDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    import org.apache.spark.sql.jdbc.JdbcType
    import org.apache.spark.sql.types._
    override def canHandle(url: String): Boolean =
      url.toLowerCase.startsWith("jdbc:derby")
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType => Some(JdbcType("VARCHAR(32672)", java.sql.Types.VARCHAR))
      case BooleanType => Some(JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
      case ByteType | ShortType => Some(JdbcType("SMALLINT", java.sql.Types.SMALLINT))
      case t: DecimalType if t.precision > 31 => // Derby max precision
        Some(JdbcType(s"DECIMAL(31,${math.min(t.scale, 31)})", java.sql.Types.DECIMAL))
      case _ => None
    }
  }
  org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(VarcharDerbyDialect)

  /** Connection config. `readOptions` lets callers opt into partitioned
    * reads; `props` carries user/password/driver.
    */
  final case class Conn(
      url: String,
      props: Map[String, String] = Map.empty,
      readOptions: Map[String, String] = Map.empty) {
    private[JdbcSink] def properties: Properties = {
      val p = new Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      p
    }
  }

  private def withConnection[A](conn: Conn)(f: Connection => A): A = {
    val c = DriverManager.getConnection(conn.url, conn.properties)
    try f(c)
    finally c.close()
  }

  /** Existence check via driver-side JDBC metadata (S7 — the reference's
    * `table_exists` information_schema probe, `etl.py:89-97`).
    */
  def tableExists(conn: Conn, table: String): Boolean =
    withConnection(conn) { c =>
      // normalize through the dialect's case folding by asking for both the
      // literal and upper-cased name (Derby/Postgres fold unquoted names)
      val md = c.getMetaData
      def probe(n: String) = {
        val rs = md.getTables(null, null, n, null)
        try rs.next()
        finally rs.close()
      }
      probe(table) || probe(table.toUpperCase) || probe(table.toLowerCase)
    }

  def read(spark: SparkSession, conn: Conn, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", conn.url)
      .option("dbtable", table)
      .options(conn.props)
      .options(conn.readOptions)
      .load()

  private def write(df: DataFrame, conn: Conn, table: String, mode: SaveMode): Unit =
    df.write.format("jdbc")
      .option("url", conn.url)
      .option("dbtable", table)
      .option("batchsize", "10000")
      .options(conn.props)
      .mode(mode)
      .save()

  /** The append path (`write_dataframe`, etl.py:27-86): dedup + audit-stamp
    * the batch; create the table from the batch schema on first load
    * (Spark's JDBC Append issues the CREATE TABLE); on schema drift against
    * the existing table, resolve with [[SchemaDrift.align]] and rewrite once
    * via staging swap — the RDBMS analog of the reference's
    * ALTER-equivalent evolution.
    */
  def appendInto(spark: SparkSession, conn: Conn, table: String, batch: DataFrame): Unit = {
    val stamped = Audit.stamp(Dedup.fullRow(batch))
    if (!tableExists(conn, table)) {
      write(stamped, conn, table, SaveMode.Append)
    } else {
      val dest = read(spark, conn, table)
      val (destAligned, batchAligned) = SchemaDrift.align(dest, stamped)
      if (SchemaDrift.diff(dest.schema, stamped.schema).isDrifted) {
        swapInto(spark, conn, table, destAligned.unionByName(batchAligned))
      } else {
        write(batchAligned, conn, table, SaveMode.Append)
      }
    }
  }

  /** Table names follow Spark's `dbtable` convention: passed through
    * VERBATIM (Spark's own JDBC writer interpolates `dbtable` unquoted into
    * its CREATE TABLE, so a quoted variant here would name a DIFFERENT table
    * under case-folding databases like Derby/Postgres). To keep the verbatim
    * interpolation from doubling as an injection vector, names are
    * restricted to plain (optionally schema-qualified) identifiers.
    */
  private def checkTableName(table: String): String = {
    require(table.matches("""[A-Za-z_][A-Za-z0-9_$]*(\.[A-Za-z_][A-Za-z0-9_$]*)?"""),
      s"table name must be a plain (optionally schema-qualified) identifier: $table")
    table
  }

  /** Dialect-correct table rename: ANSI/PostgreSQL-family databases use
    * `ALTER TABLE .. RENAME TO ..`; Derby and MySQL use `RENAME TABLE .. TO
    * ..`.
    */
  private def renameSql(url: String, from: String, to: String): String = {
    val u = url.toLowerCase
    if (u.startsWith("jdbc:derby") || u.startsWith("jdbc:mysql"))
      s"RENAME TABLE ${checkTableName(from)} TO ${checkTableName(to)}"
    else s"ALTER TABLE ${checkTableName(from)} RENAME TO ${checkTableName(to)}"
  }

  /** Write-staging-then-swap full-table rewrite: land `data` in
    * `<table>__staging` FIRST — materializing any plan that still reads
    * the live table — then drop + rename inside one
    * transaction on one connection. On databases with transactional DDL
    * (PostgreSQL, Derby) the swap is atomic: a reader never observes the
    * missing-table window and a crash between the statements rolls back.
    * MySQL auto-commits DDL, so there the swap is only crash-safe up to its
    * implicit commits — the staging table always holds the full image either
    * way, so no data is lost.
    */
  def swapInto(spark: SparkSession, conn: Conn, table: String, data: DataFrame): Unit = {
    val staging = s"${checkTableName(table)}__staging"
    write(data, conn, staging, SaveMode.Overwrite)
    withConnection(conn) { c =>
      val autoCommit = c.getAutoCommit
      c.setAutoCommit(false)
      val st = c.createStatement()
      try {
        if (tableExists(conn, table))
          st.executeUpdate(s"DROP TABLE $table")
        st.executeUpdate(renameSql(conn.url, staging, table))
        c.commit()
      } catch {
        case e: Throwable =>
          try c.rollback() catch { case _: Throwable => () }
          throw e
      } finally {
        st.close()
        try c.setAutoCommit(autoCommit) catch { case _: Throwable => () }
      }
    }
  }

  /** MERGE upsert into an RDBMS table (J1 against the reference's actual
    * destination, `etl.py:153-179`): dedup the batch on pk, compute the
    * post-merge image with the engine's [[Merge]] (null-safe change
    * predicate, audit-stamp preservation), land via staging swap.
    * Creates the table on first load.
    */
  def mergeInto(
      spark: SparkSession,
      conn: Conn,
      table: String,
      batch: DataFrame,
      pk: Seq[String],
      orderCols: Seq[String]): Unit = {
    val stamped = Audit.stamp(batch)
    if (!tableExists(conn, table)) {
      write(Audit.stamp(Dedup.byKeyLatest(batch, pk, orderCols)), conn, table, SaveMode.Append)
    } else {
      val dest = read(spark, conn, table)
      val (destAligned, batchAligned) = SchemaDrift.align(dest, stamped)
      val merged = Merge.upsertBatch(destAligned, batchAligned, pk, orderCols)
      swapInto(spark, conn, table, merged)
    }
  }
}
