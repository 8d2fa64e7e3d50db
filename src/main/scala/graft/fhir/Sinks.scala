package graft.fhir

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.engine.Tables

/** Sink/reset abstraction for the reference's external surfaces
  * (SURVEY §2.1 S5–S10): resources go to one collection per type, facts to
  * three relational tables, with truncate/drop reset ops. Tests run
  * against the parquet implementations; the JDBC implementation maps to
  * the reference's Postgres COPY path and only needs a URL to swap in —
  * nothing upstream changes, because both sides consume plain DataFrames.
  * (A MongoDB connector sink drops in the same way via
  * `format("mongodb")`; not linked here because the connector jar is not
  * part of the build environment.)
  */
trait ResourceSink {
  /** S5: per-collection resource write (reference bundle.go:111-120,
    * unordered bulk). `routed` carries a `collection` column.
    */
  def writeResources(routed: DataFrame): Unit

  /** S10: `-reset` — drop all resource collections (db.go:63-75). */
  def reset(): Unit
}

trait FactSink {
  /** S8: append one fact table in its COPY column order (db.go:139/235/330). */
  def writeFacts(table: String, facts: DataFrame): Unit

  /** S9: unconditional fact truncate at startup (db.go:43-59). */
  def clearFactTables(tables: Seq[String]): Unit
}

/** S6/S7 — the rawstat materialized view's storage seam: where the
  * per-patient pre-aggregate persists between ingest and the three fact
  * rollups. The reference stores it as a Mongo collection (bundle.go:
  * 122-124) and executes the rollups against that collection server-side
  * (db.go:129-130, 225-226, 320-321); the engine's rollups are Spark
  * plans, so "source" here means the table read feeding [[FactJobs]] —
  * the plans themselves are storage-agnostic.
  */
trait RawstatStore {
  /** S6: persist the rawstat table produced by [[RawStats.build]]. */
  def write(rawstat: DataFrame): Unit

  /** S7: read the persisted rawstat back as the rollup input. */
  def read(spark: org.apache.spark.sql.SparkSession): DataFrame
}

/** Default store: a parquet table in the warehouse dir (the engine's
  * local materialized-view shape). The read-back takes its schema from the
  * table's footer on the driver ([[graft.engine.Tables.parquet]]), so the
  * three rollups plan without waiting on a schema-inference job, as
  * [[MongoRawstatStore]] skips the connector's sampling pass by supplying
  * its schema.
  */
class ParquetRawstatStore(warehouseDir: String) extends RawstatStore {
  def write(rawstat: DataFrame): Unit =
    rawstat.write.mode("overwrite").parquet(s"$warehouseDir/rawstat")
  def read(spark: org.apache.spark.sql.SparkSession): DataFrame =
    Tables.parquet(spark, s"$warehouseDir/rawstat")
}

/** S6+S7 in their reference form: rawstat lives in a Mongo collection.
  * The read supplies the explicit [[Schemas.RawStat]] schema, which both
  * skips the connector's sampling pass and gives DataSource V2 a fixed
  * relation to prune against — the rollups' column selections and
  * filters reach the server as `$project`/`$match` through the
  * connector's pushdown (SURVEY §2.1 S7), so a 3-column rollup never
  * ships whole documents. Like [[MongoResourceSink]], the connector
  * calls sit behind protected seams: the wiring is runtime-tested by
  * substituting them (SinksSpec / FhirPipelineSpec), the real connector
  * path needs the MongoDB Spark connector jar on the classpath.
  */
class MongoRawstatStore(uri: String, database: String,
    collection: String = "rawstat") extends RawstatStore {

  def write(rawstat: DataFrame): Unit = writeSeam(rawstat)

  def read(spark: org.apache.spark.sql.SparkSession): DataFrame =
    readSeam(spark)

  /** rawstat is a per-run materialized view: overwrite, not append —
    * re-running ingest replaces the summary (the reference reaches the
    * same end state by dropping collections under `-reset` and
    * re-inserting every bundle, db.go:63-75 + bundle.go:122-124).
    */
  protected def writeSeam(rawstat: DataFrame): Unit =
    rawstat.write.format("mongodb")
      .mode("overwrite")
      .option("connection.uri", uri)
      .option("database", database)
      .option("collection", collection)
      .option("ordered", "false")
      .save()

  protected def readSeam(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.format("mongodb")
      .option("connection.uri", uri)
      .option("database", database)
      .option("collection", collection)
      .schema(org.apache.spark.sql.Encoders.product[Schemas.RawStat].schema)
      .load()
}

/** Columnar warehouse implementation — collections become partition
  * directories, facts become parquet tables. Used by tests and FhirMain.
  *
  * Resource files follow bytes, not the scan's splits: the routed rows
  * are rebalanced by `collection` before the partitioned write, so AQE
  * sizes the write tasks by `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * — small collections share one task and one file each, a collection
  * past the advisory size is split across tasks. Without it every scan
  * task wrote one file per collection it touched: 2,000 `GenBundles`
  * bundles at `local[4]` made 63 tasks and 174 files, and at 10,000
  * bundles the 862 files held 20.0 MB, 13.6 MB of it parquet footers
  * (each file carries the nested resource schema's column metadata),
  * against 2.1 MB in the 3 files written now.
  */
class ParquetSink(warehouseDir: String) extends ResourceSink with FactSink {
  def writeResources(routed: DataFrame): Unit =
    routed.hint("rebalance", col("collection"))
      .write.mode("append").partitionBy("collection")
      .parquet(s"$warehouseDir/resources")

  def reset(): Unit = {
    val p = java.nio.file.Paths.get(warehouseDir, "resources")
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  def writeFacts(table: String, facts: DataFrame): Unit =
    facts.write.mode("overwrite").parquet(s"$warehouseDir/$table")

  def clearFactTables(tables: Seq[String]): Unit = ()
}

/** The reference's MongoDB resource surface (bundle.go:111-124): one
  * collection per resource type, unordered bulk writes. Uses the
  * DataSource V2 "mongodb" format, which resolves at runtime from the
  * MongoDB Spark connector jar (not part of this build environment — the
  * class compiles and is the documented deployment path; tests exercise
  * the same DataFrames through [[ParquetSink]]).
  *
  * `ordered=false` reproduces the reference's `Bulk().Unordered()`; the
  * per-collection loop mirrors its type routing, with each write a
  * partition-parallel bulk insert.
  */
class MongoResourceSink(uri: String, database: String) extends ResourceSink {

  /** Set by [[reset]]; while pending, the FIRST write touching each
    * collection name uses overwrite (the connector drops + recreates the
    * collection), later writes to the same name append. Keyed per
    * collection, not per call, so a multi-write caller (e.g. a per-batch
    * streaming loop) accumulates correctly: each collection is replaced
    * exactly once after a reset, including collections that first appear
    * in a later batch.
    */
  private var dropPending = false
  private var overwritten: Set[String] = Set.empty

  def writeResources(routed: DataFrame): Unit = {
    // The reference writes every collection it encounters (bundle.go:111-120)
    // — including fallback lower(type)+"s" names for resource types outside
    // the fixed 11 — so the collection list comes from the data, not from
    // Schemas.collections. The distinct is over collection *names* (bounded
    // by the number of resource types, dozens at most), not rows. `routed`
    // is cached for the call, so the explode + reference-rewrite lineage
    // runs once, not once per collection plus once for the distinct.
    routed.persist()
    try {
      val colls = routed.select(col("collection")).distinct()
        .collect().map(_.getString(0)).sorted
      colls.foreach { coll =>
        val mode =
          if (dropPending && !overwritten.contains(coll)) "overwrite"
          else "append"
        writeCollection(
          routed.filter(col("collection") === coll).select(col("resource.*")),
          coll, mode)
      }
      // marked only after every collection in THIS call wrote: a mid-loop
      // failure marks nothing, so a retried writeResources overwrites the
      // whole call's collections again instead of appending duplicates into
      // the ones that succeeded
      if (dropPending) overwritten ++= colls
    } finally routed.unpersist()
  }

  /** The one connector touchpoint — the mode/bookkeeping logic above is
    * connector-independent and runtime-tested through this seam
    * (SinksSpec subclasses it with a recording implementation; the real
    * connector write itself needs the MongoDB Spark connector jar on the
    * runtime classpath, which this build environment doesn't ship).
    */
  protected def writeCollection(resources: DataFrame, collection: String,
      mode: String): Unit =
    resources
      .write.format("mongodb")
      .mode(mode)
      .option("connection.uri", uri)
      .option("database", database)
      .option("collection", collection)
      .option("ordered", "false")
      .save()

  /** S10: the reference drops every collection up front and logs-and-
    * continues on failure (db.go:63-75). The Spark connector exposes no
    * drop on the write path, so reset is realized as overwrite-with-
    * replace on the next write — collections present in the new run end
    * up containing exactly this run's resources, with no mid-run crash
    * after the fact tables were already truncated. Caveat vs the
    * reference: a collection that receives NO resources in the new run
    * is left untouched (the write path never sees it); a full-parity
    * reset of such stragglers needs an admin drop outside Spark.
    */
  def reset(): Unit = { dropPending = true; overwritten = Set.empty }
}

/** Relational implementation of the fact surface — the reference's
  * Postgres path. `reWriteBatchedInserts=true` turns executeBatch into
  * multi-row inserts (the practical COPY-speed JDBC setting); counts are
  * cast to int to match the reference's int32 fact columns (db.go:35-37)
  * at the boundary only. Partition-parallel: each executor partition
  * opens its own connection via the standard `df.write.jdbc`.
  *
  * `schema` qualifies every table name (`schema.table`): the reference
  * truncates/COPYs into the `synth_ma` schema (db.go:45-56), so pointing
  * at a reference-provisioned Postgres must hit the same tables, not
  * create fresh ones on the default search_path.
  */
class JdbcFactSink(url: String, schema: Option[String] = None,
    props: Properties = new Properties)
    extends FactSink {
  props.setProperty("reWriteBatchedInserts", "true")

  private def qualified(table: String): String =
    schema.map(s => s"$s.$table").getOrElse(table)

  def writeFacts(table: String, facts: DataFrame): Unit =
    FactSinks.narrowCounts(facts)
      .write.mode("append").jdbc(url, qualified(table), props)

  def clearFactTables(tables: Seq[String]): Unit =
    FactSinks.truncate(url, props, tables.map(qualified))
}

/** Shared pieces of the relational fact surface. */
private[fhir] object FactSinks {
  /** Counts are cast to int at the relational boundary only, matching the
    * reference's int32 fact columns (db.go:35-37).
    */
  def narrowCounts(facts: DataFrame): DataFrame =
    facts.columns.foldLeft(facts) { (df, c) =>
      if (Seq("pop", "pop_male", "pop_female").contains(c))
        df.withColumn(c, col(c).cast("int"))
      else df
    }

  def truncate(url: String, props: Properties, tables: Seq[String]): Unit = {
    val conn = DriverManager.getConnection(url, props)
    try tables.foreach { t =>
      val st = conn.createStatement()
      // undefined-table/schema SQLStates (Postgres 42P01/3F000, Derby
      // 42X05/42Y07, ANSI 42S02): a first run has nothing to truncate —
      // not an error
      try st.executeUpdate(s"TRUNCATE TABLE $t")
      catch {
        case e: java.sql.SQLException
            if Seq("42P01", "42X05", "42S02", "42Y55", "42Y07", "3F000")
              .contains(e.getSQLState) => ()
      } finally st.close()
    } finally conn.close()
  }
}

/** True COPY-protocol fact sink — the faithful mapping of the reference's
  * `pq.CopyInSchema` path (db.go:139/235/330): each executor partition
  * opens its own connection and STREAMS its rows as Postgres COPY TEXT
  * (`COPY schema.table (cols…) FROM STDIN`) instead of batched INSERTs.
  * At scale this is the difference between per-statement parse/plan
  * overhead and the bulk-ingest wire protocol; parallelism = partition
  * count, no driver involvement.
  *
  * The COPY entry point is pluggable ([[CopyFactSink.CopyIn]]): the
  * default [[CopyFactSink.pgCopyIn]] reaches pgjdbc's `CopyManager` via
  * reflection (the Postgres driver is a runtime-classpath deployment
  * dependency, same stance as the Mongo connector), so the class compiles
  * and its row encoding + partition plumbing are fully testable without
  * the driver — SinksSpec runs the identical pipeline against embedded
  * Derby through a COPY-TEXT-parsing fallback and asserts row identity by
  * JDBC read-back.
  */
class CopyFactSink(url: String, schema: Option[String] = None,
    props: Properties = new Properties,
    copyIn: CopyFactSink.CopyIn = CopyFactSink.pgCopyIn)
    extends FactSink with Serializable {

  private def qualified(table: String): String =
    schema.map(s => s"$s.$table").getOrElse(table)

  def writeFacts(table: String, facts: DataFrame): Unit = {
    val narrowed = FactSinks.narrowCounts(facts)
    // the JDBC-append path auto-creates missing tables (Spark's .jdbc
    // write); COPY issues no DDL, so a first run against a fresh
    // database must bootstrap here or die mid-ingest on
    // relation-does-not-exist
    CopyFactSink.ensureTable(url, props, schema, table, narrowed.schema)
    // columns are quoted like the reference's pq.QuoteIdentifier — and
    // Spark's JDBC writer creates them quoted (case-sensitive), so the
    // unquoted form would not resolve against a Spark-created table
    val sql = s"COPY ${qualified(table)} " +
      s"(${narrowed.columns.map(CopyFactSink.quoteIdent).mkString(", ")}) " +
      "FROM STDIN"
    // locals only: the partition closure must not capture the DataFrame
    val (u, p, ci) = (url, props, copyIn)
    narrowed.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(u, p)
        try { ci.copyIn(conn, sql, rows.map(CopyFactSink.encodeRow)); () }
        finally conn.close()
      }
    }
  }

  def clearFactTables(tables: Seq[String]): Unit =
    FactSinks.truncate(url, props, tables.map(qualified))
}

object CopyFactSink {
  /** Per-partition COPY executor: consumes already-encoded COPY TEXT
    * lines (no trailing newline) for the given `COPY … FROM STDIN`
    * statement. Serializable — it ships inside the foreachPartition
    * closure.
    */
  trait CopyIn extends Serializable {
    def copyIn(conn: java.sql.Connection, copySql: String,
        lines: Iterator[String]): Long
  }

  /** The real COPY protocol via pgjdbc: unwrap the connection to
    * `PGConnection`, obtain its `CopyManager`, and stream the lines
    * through `copyIn(sql, Reader)`. Reflection keeps the Postgres driver
    * a runtime-only dependency. The Reader pulls from the row iterator
    * lazily — per-partition heap stays O(one line), never O(partition)
    * (an eager mkString would double-buffer the whole partition's COPY
    * payload and contradict the class's streaming contract).
    */
  object pgCopyIn extends CopyIn {
    def copyIn(conn: java.sql.Connection, copySql: String,
        lines: Iterator[String]): Long = {
      val pgIface = Class.forName("org.postgresql.PGConnection")
      val pg = conn.unwrap(pgIface.asInstanceOf[Class[AnyRef]])
      val cm = pgIface.getMethod("getCopyAPI").invoke(pg)
      val text = linesReader(lines)
      cm.getClass.getMethod("copyIn", classOf[String], classOf[java.io.Reader])
        .invoke(cm, copySql, text).asInstanceOf[java.lang.Long].longValue()
    }
  }

  /** A Reader view over encoded COPY lines: each line is served with its
    * trailing newline, advancing the iterator only as the consumer reads.
    */
  def linesReader(lines: Iterator[String]): java.io.Reader =
    new java.io.Reader {
      private var cur: String = ""
      private var pos = 0
      override def read(cbuf: Array[Char], off: Int, len: Int): Int = {
        while (pos >= cur.length) {
          if (!lines.hasNext) return -1
          cur = lines.next() + "\n"
          pos = 0
        }
        val n = math.min(len, cur.length - pos)
        cur.getChars(pos, pos + n, cbuf, off)
        pos += n
        n
      }
      override def close(): Unit = ()
    }

  /** Driver-side DDL bootstrap for the COPY path: create the schema and
    * table if missing (COPY, unlike Spark's JDBC append, issues no DDL).
    * Portable across Postgres/Derby by attempting the CREATE and
    * swallowing the already-exists SQLStates — neither engine supports
    * the other's IF-NOT-EXISTS spelling. Columns are created quoted
    * (matching [[quoteIdent]] and Spark's JDBC writer), the table name
    * unquoted so case-folding engines resolve the COPY statement's
    * unquoted reference.
    */
  def ensureTable(url: String, props: Properties, schemaName: Option[String],
      table: String, rowSchema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    // strings must be UNBOUNDED, matching the DDL Spark's own JDBC append
    // path would issue (TEXT on Postgres, CLOB on Derby/ANSI): a
    // varchar(N) bound here would let the same fact row succeed through
    // the JDBC sink but fail mid-COPY on a bootstrap-created table
    val stringType =
      if (url.startsWith("jdbc:postgresql")) "text" else "clob"
    def sqlType(dt: DataType): String = dt match {
      case IntegerType | ShortType | ByteType => "integer"
      case LongType => "bigint"
      case DoubleType => "double precision"
      case FloatType => "real"
      case BooleanType => "boolean"
      case DateType => "date"
      case TimestampType => "timestamp"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case _ => stringType
    }
    val alreadyExists = // PG: table 42P07 / schema 42P06; Derby: X0Y32 /
      Seq("42P07", "42P06", "X0Y32", "X0Y68", "42S01") // X0Y68; ANSI 42S01
    def attempt(conn: java.sql.Connection, ddl: String,
        exists: Seq[String]): Unit = {
      val st = conn.createStatement()
      try st.executeUpdate(ddl)
      catch {
        case e: java.sql.SQLException if exists.contains(e.getSQLState) => ()
      } finally st.close()
    }
    val conn = DriverManager.getConnection(url, props)
    try {
      // the three fact writes run concurrently (FhirMain.run), so they
      // race on CREATE SCHEMA: on Postgres the loser of two concurrent
      // creates can see a unique violation on pg_namespace (23505)
      // instead of 42P06. Only here does 23505 mean "already exists".
      schemaName.foreach(s =>
        attempt(conn, s"CREATE SCHEMA $s", alreadyExists :+ "23505"))
      val cols = rowSchema.fields
        .map(f => s"${quoteIdent(f.name)} ${sqlType(f.dataType)}")
        .mkString(", ")
      val qualified = schemaName.map(s => s"$s.$table").getOrElse(table)
      attempt(conn, s"CREATE TABLE $qualified ($cols)", alreadyExists)
    } finally conn.close()
  }

  /** Double-quoted SQL identifier with embedded quotes doubled — the
    * `pq.QuoteIdentifier` contract.
    */
  def quoteIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  /** One row as a COPY TEXT line: tab-delimited fields, `\N` for NULL,
    * with the format's backslash escapes (backslash, tab, newline,
    * carriage return) applied to string data.
    */
  def encodeRow(row: org.apache.spark.sql.Row): String =
    (0 until row.length).map { i =>
      if (row.isNullAt(i)) "\\N" else escape(String.valueOf(row.get(i)))
    }.mkString("\t")

  private def escape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Inverse of [[encodeRow]]'s escaping — used by the test fallback
    * [[jdbcCopyIn]] to materialize COPY TEXT into any JDBC database, and
    * the round-trip proof that the encoding is valid COPY TEXT.
    */
  def decodeField(s: String): Option[String] =
    if (s == "\\N") None
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case '\\' => sb.append('\\')
            case 't' => sb.append('\t')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case o => sb.append(o)
          }
          i += 2
        } else { sb.append(c); i += 1 }
      }
      Some(sb.toString)
    }

  /** Portable fallback CopyIn for engines without the COPY protocol
    * (embedded Derby in tests): parses the `COPY table (cols) FROM
    * STDIN` statement it is handed, decodes each COPY TEXT line, and
    * applies it as parameterized INSERTs on the same connection — so the
    * test path exercises the exact statement and line format the
    * Postgres path streams.
    */
  object jdbcCopyIn extends CopyIn {
    private val CopyStmt =
      """(?s)COPY\s+(\S+)\s*\(([^)]*)\)\s+FROM\s+STDIN""".r
    def copyIn(conn: java.sql.Connection, copySql: String,
        lines: Iterator[String]): Long = {
      val (table, cols) = copySql match {
        case CopyStmt(t, cs) => (t, cs.split(",").map(_.trim))
        case _ => throw new IllegalArgumentException(
          s"not a COPY statement: $copySql")
      }
      val ps = conn.prepareStatement(
        s"INSERT INTO $table (${cols.mkString(", ")}) " +
          s"VALUES (${cols.map(_ => "?").mkString(", ")})")
      try {
        // text→column-type conversion happens server-side under real
        // COPY; here ParameterMetaData drives the same conversion
        val meta = ps.getParameterMetaData
        val types = cols.indices.map(i => meta.getParameterType(i + 1))
        var n = 0L
        lines.foreach { line =>
          // -1 keeps trailing empty fields (a NULL-free schema never
          // emits them, but the format allows empty strings at line end)
          val fields = line.split("\t", -1)
          fields.zipWithIndex.foreach { case (f, i) =>
            decodeField(f) match {
              case Some(v) =>
                import java.sql.Types._
                types(i) match {
                  case TINYINT | SMALLINT | INTEGER | BIGINT =>
                    ps.setLong(i + 1, v.toLong)
                  case FLOAT | REAL | DOUBLE | NUMERIC | DECIMAL =>
                    ps.setBigDecimal(i + 1, new java.math.BigDecimal(v))
                  case BOOLEAN | BIT => ps.setBoolean(i + 1, v.toBoolean)
                  case _ => ps.setString(i + 1, v)
                }
              case None => ps.setNull(i + 1, types(i))
            }
          }
          ps.addBatch()
          n += 1
        }
        ps.executeBatch()
        n
      } finally ps.close()
    }
  }
}
