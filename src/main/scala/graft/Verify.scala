package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump every query's result under `outDir/<name>/`; on failure write a
    * one-row marker parquet (column `__graft_error`) so the driver's
    * compare emits a RED row for that query instead of silently dropping
    * it from the correctness artifact — a failed query must be visible,
    * not absent. Returns the (name → message) failures, also persisted as
    * `errors.json`. Seam shared by [[main]] and the VerifySpec gate.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      oracleSql: Seq[(String, String)]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        try {
          import spark.implicits._
          Seq(msg.take(500)).toDF("__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: regex over query names (builder-side subset
    // iteration; the driver always runs the full surface)
    val (sfDir, outDir, filt) = args match {
      case Array(a, b)    => (a, b, ".*")
      case Array(a, b, f) => (a, b, f)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.GraftSession.build(
      s"local[$cpus]", "graft-verify", cpus.toInt)
    dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter(_._1.matches(filt)),
      SparkEntry.oracleSql.toSeq.filter(_._1.matches(filt)))
    spark.stop()
  }
}
