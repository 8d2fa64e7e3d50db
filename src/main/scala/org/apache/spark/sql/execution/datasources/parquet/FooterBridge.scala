package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's own parquet schema-inference pieces, for a caller that has
  * already chosen the file to read on the driver ([[graft.engine.Tables]]).
  * The members called are not public, so this one-file shim lives inside
  * the `parquet` package, the same pattern as `sql/graft/ColumnBridge`:
  *
  *  - `HadoopFSUtils.shouldFilterOutPathName` (`private[spark]`): the rule
  *    by which the file index skips a listed name (`_`/`.` prefixes other
  *    than the summary files, `._COPYING_`), so a driver listing sees the
  *    same leaves as `InMemoryFileIndex`;
  *  - `ParquetFileFormat.readParquetFootersInParallel` and
  *    `ParquetFileFormat.readSchema` (`private[parquet]`): the footer read
  *    and footer-to-schema rules that schema inference runs inside its
  *    one-task job — the Spark schema stored in the footer, else the
  *    converted parquet schema, under the session's parquet confs
  *    (binaryAsString, int96AsTimestamp, inferTimestampNTZ, nanosAsLong);
  *  - `StructType.asNullable` (`private[spark]`).
  */
object FooterBridge {

  /** True when the file index leaves a child with this name out. */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema Spark's inference reads from `file`'s footer, every field
    * nullable as `DataSource` makes a file table's data schema
    * (`StructType.asNullable`, `private[spark]`). None when the footer
    * cannot be read and `spark.sql.files.ignoreCorruptFiles` is on; a
    * corrupt footer throws otherwise, as the inference job does.
    */
  def schema(spark: SparkSession, conf: Configuration,
      file: FileStatus): Option[StructType] = {
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      conf, Seq(file), spark.sessionState.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark).map(_.asNullable)
  }
}
