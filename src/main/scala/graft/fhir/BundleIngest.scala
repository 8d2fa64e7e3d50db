package graft.fhir

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ingest job (reference main.go → worker → UploadResources,
  * SURVEY §3.1): read whole-file FHIR bundles, assign fresh surrogate IDs,
  * rewrite every cross-resource reference, and route resources by type to
  * per-collection sinks.
  *
  * Execution shape at scale: one file = one row = one task unit; the whole
  * T1→T6 chain is per-row column expressions, so ingest parallelism equals
  * file-split parallelism with zero shuffles before the sink (the
  * reference's 8-goroutine worker pool becomes the task scheduler).
  */
object BundleIngest {

  /** S1+S2: recursive scan for `*.json`, whole-file parse against the
    * declared schema, silent skip of malformed files (PERMISSIVE +
    * corrupt-record column = the reference's discarded Unmarshal error,
    * main.go:255).
    */
  def readBundles(spark: SparkSession, path: String): DataFrame =
    parsed(spark.read.schema(Schemas.bundle).options(ReadOptions).json(path))

  /** The bundle reader's options, shared by [[readBundles]] and the
    * streaming ingest (`graft.streaming.Streams.bundleStream`).
    */
  private[graft] val ReadOptions = Map(
    "multiLine" -> "true", "recursiveFileLookup" -> "true",
    "pathGlobFilter" -> "*.json", "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> "_corrupt_record")

  /** Tag each parsed bundle with its file and drop the malformed ones. */
  private[graft] def parsed(raw: DataFrame): DataFrame =
    raw.withColumn("bundle_path", input_file_name())
      .filter(col("_corrupt_record").isNull && col("entry").isNotNull)
      .drop("_corrupt_record")

  /** T1+T2+T3+T4: per-bundle ID assignment and graph rewrite.
    *
    * Rebuilds `entry` with new resource ids and rewritten references, per
    * row, through one expression ([[ReferenceRewrite.rewriteEntries]]). Ids
    * derive from (bundle path, fullUrl) where the reference draws random
    * ObjectIds (main.go:266), so the rewrite is assertable and reruns are
    * idempotent (SURVEY §7.3).
    */
  def rewriteBundle(bundles: DataFrame,
      legacyCid: Boolean = false): DataFrame =
    bundles.withColumn("entry", ReferenceRewrite.rewriteEntries(
      col("entry"), col("bundle_path"), legacyCid))

  /** T6: type-tag routing — explode entries into one row per resource with
    * its pluralized collection name (bundle.go:75-82; fixed 11-name map
    * db.go:12-24). Unknown types keep `lower(type)+"s"`, like
    * PluralizeLowerResourceName.
    */
  def routeResources(bundles: DataFrame): DataFrame = {
    val collMap = map(
      Schemas.collections.toSeq.sortBy(_._1).flatMap {
        case (k, v) => Seq(lit(k), lit(v))
      }: _*)
    bundles
      .select(col("bundle_path"), explode(col("entry")).as("e"))
      .select(
        col("bundle_path"),
        col("e.resource").as("resource"),
        col("e.resource.resourceType").as("resourceType"))
      .withColumn("collection",
        coalesce(
          try_element_at(collMap, col("resourceType")),
          concat(lower(col("resourceType")), lit("s"))))
  }
}
