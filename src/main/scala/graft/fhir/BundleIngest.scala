package graft.fhir

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
    spark.read
      .schema(Schemas.bundle)
      .option("multiLine", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .withColumn("bundle_path", input_file_name())
      .filter(col("_corrupt_record").isNull && col("entry").isNotNull)
      .drop("_corrupt_record")

  /** T1: surrogate ID per entry. The reference draws random ObjectIds
    * (main.go:266); we default to deterministic 24-hex IDs derived from
    * (bundle path, fullUrl) so reference rewrite is assertable and reruns
    * are idempotent (SURVEY §7.3). `deterministic=false` gives uuids.
    */
  private def newIdFor(e: Column, deterministic: Boolean): Column =
    if (deterministic)
      substring(sha2(concat_ws("|", col("bundle_path"), e.getField("fullUrl")), 256), 1, 24)
    else expr("replace(uuid(), '-', '')")

  /** T1+T2+T3+T4: per-bundle ID assignment and graph rewrite.
    *
    * Adds `refmap` (fullUrl → "Type/newId") and rebuilds `entry` with new
    * resource ids and rewritten references. All per-row; the refMap is a
    * plain map column, the analogue of the reference's per-bundle
    * `map[string]Reference` (main.go:257-272).
    */
  def rewriteBundle(bundles: DataFrame, deterministic: Boolean = true,
      legacyCid: Boolean = false): DataFrame = {
    val withIds = bundles.withColumn("entry_ids",
      transform(col("entry"), e => newIdFor(e, deterministic)))
    val refMap = map_from_entries(
      filter(
        zip_with(col("entry"), col("entry_ids"), (e, id) =>
          struct(
            e.getField("fullUrl").as("key"),
            concat_ws("/", e.getField("resource").getField("resourceType"), id)
              .as("value"))),
        kv => kv.getField("key").isNotNull))
    val withMap = withIds.withColumn("refmap", refMap)
    val rewritten = withMap.withColumn("entry",
      zip_with(col("entry"), col("entry_ids"), (e, id) => {
        val withId = e.withField("resource.id", id) // T3
        withId.withField("resource",
          ReferenceRewrite.rewriteValue(
            withId.getField("resource"), Schemas.resource, col("refmap"),
            legacyCid))
      }))
    rewritten.drop("entry_ids")
  }

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
