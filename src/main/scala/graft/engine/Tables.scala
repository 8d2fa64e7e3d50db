package graft.engine

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.types.StructType

/** The program's one batch parquet reader, and the loader for the
  * driver-generated testdata star schema (TESTDATA.md).
  *
  * The testdata is one parquet file per table under a scale-factor
  * directory. At 100 TB each of these would be a multi-file partitioned
  * dataset; [[parquet]] handles both, and every query in
  * [[graft.SparkEntry]] is written against the DataFrame, never against
  * file layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir) else
      parquet(spark, s"$dir/$name.parquet")

  /** `events.ts` has been written both as parquet TIMESTAMP(MICROS) (reads
    * natively) and as TIMESTAMP(NANOS), which Spark 4 rejects outright
    * ([PARQUET_TYPE_ILLEGAL]) unless read as a long (legacy conf). Adapt to
    * whichever this file carries: if `ts` surfaces as a long it was nanos —
    * convert with integer `div` so truncation matches what nanos→micros
    * readers (DuckDB) do; if it is already a timestamp, pass through.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(parquet(spark, s"$dir/events.parquet"))
  }

  /** Normalize the `ts` column to TIMESTAMP (LTZ) whatever the file carried:
    * nanos-as-long → integer `div` to micros (truncation matches DuckDB's
    * nanos→micros read); TIMESTAMP_NTZ → plain cast (session tz is pinned to
    * UTC in GraftSession, so the cast is value-preserving; queries do epoch
    * arithmetic via cast-to-bigint, which NTZ does not support).
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** `spark.read.parquet(paths: _*)` without its schema-inference job.
    *
    * With `mergeSchema` off, Spark infers a parquet table's schema from ONE
    * footer, but opens it inside a one-task Spark job before the DataFrame
    * exists: ≈70 ms of driver wait per read in a warm `local[4]` session
    * on a 4-vCPU host, and 11 of the 33 jobs of a warm pass over the core
    * queries q01–q07 and q09. This reader lists the paths on the driver,
    * reads the footer Spark's inference would read — `_common_metadata`,
    * else `_metadata`, else the first data file by path — through Spark's
    * own footer code ([[FooterBridge]]), and hands the schema to
    * `spark.read.schema(_).parquet(paths: _*)`.
    * Partition columns still come from the file index, and the relation is
    * the one inference would have built, nullability included.
    *
    * Nothing is kept between calls: each read lists and reads its footer
    * afresh, so a table rewritten in place is seen with its new schema.
    * When a path holds no data file (missing, empty, a glob) or the session
    * merges parquet schemas, the read goes to `spark.read.parquet`
    * unchanged, which infers or raises its own error.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The data columns of the parquet table at `paths`, as [[parquet]]
    * resolves them, without building a DataFrame. Partition columns are
    * not included: they come from directory names, not footers.
    */
  def parquetSchema(spark: SparkSession, paths: String*): StructType =
    footerSchema(spark, paths).getOrElse(spark.read.parquet(paths: _*).schema)

  private def footerSchema(spark: SparkSession,
      paths: Seq[String]): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      val roots = paths.map(p => leaves(conf, new Path(p)))
      if (roots.exists(_.isEmpty)) None
      else inferenceFile(roots).flatMap(FooterBridge.schema(spark, conf, _))
    }

  /** The files under one root as `InMemoryFileIndex` lists them, each with
    * its directory path relative to the root. Empty when the root is
    * missing.
    */
  private def leaves(conf: Configuration,
      root: Path): Seq[(FileStatus, Seq[String])] = {
    val fs = root.getFileSystem(conf)
    def walk(dir: Path, rel: Seq[String]): Seq[(FileStatus, Seq[String])] =
      fs.listStatus(dir).toSeq
        .filterNot(s => FooterBridge.hidden(s.getPath.getName))
        .flatMap { s =>
          if (s.isDirectory) walk(s.getPath, rel :+ s.getPath.getName)
          else Seq(s -> rel)
        }
    try {
      val status = fs.getFileStatus(root)
      if (status.isDirectory) walk(status.getPath, Nil) else Seq(status -> Nil)
    } catch { case _: FileNotFoundException => Nil }
  }

  /** The one file `ParquetUtils.inferSchema` opens when schemas are not
    * merged. It sees the index's `allFiles()`: every leaf when a directory
    * below a root is a `key=value` partition, else only each root's own
    * files. From those it takes `_common_metadata`, else `_metadata`, else
    * the first data file by path.
    */
  private def inferenceFile(
      roots: Seq[Seq[(FileStatus, Seq[String])]]): Option[FileStatus] = {
    val all = roots.flatten
    val partitioned = all.exists(_._2.exists(_.contains('=')))
    val files = all.collect { case (f, rel) if partitioned || rel.isEmpty => f }
      .sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
  }
}
