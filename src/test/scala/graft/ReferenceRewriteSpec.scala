package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.fhir.{BundleIngest, ReferenceRewrite, RewriteEntries, Schemas}
import graft.tools.GenBundles

/** The composed `functions._` form of T1–T4: the oracle
  * [[RewriteEntries]] must match on every row. Higher-order functions over
  * the declared schema, about 720 expression nodes.
  */
object ComposedRewrite {
  import ReferenceRewrite.{containsReference, isReferenceShape}

  private def newIdFor(e: Column): Column =
    substring(sha2(concat_ws("|", col("bundle_path"), e.getField("fullUrl")), 256), 1, 24)

  private def rewriteRefString(ref: Column, refMap: Column,
      legacyCid: Boolean): Column = {
    val direct = try_element_at(refMap, ref)
    val withCid =
      if (legacyCid)
        coalesce(direct,
          when(ref.startsWith("cid:"),
            try_element_at(refMap, ref.substr(lit(5), length(ref)))))
      else direct
    coalesce(withCid, ref)
  }

  private def rewriteValue(c: Column, dt: DataType, refMap: Column,
      legacyCid: Boolean): Column = dt match {
    case st: StructType if isReferenceShape(st) =>
      rebuildStruct(c, st, f =>
        if (f.name == "reference")
          rewriteRefString(c.getField("reference"), refMap, legacyCid)
        else c.getField(f.name))
    case st: StructType if containsReference(st) =>
      rebuildStruct(c, st, f =>
        rewriteValue(c.getField(f.name), f.dataType, refMap, legacyCid))
    case ArrayType(et, _) if containsReference(et) =>
      transform(c, x => rewriteValue(x, et, refMap, legacyCid))
    case _ => c
  }

  private def rebuildStruct(
      c: Column, st: StructType, mk: StructField => Column): Column =
    when(c.isNotNull, struct(st.fields.map(f => mk(f).as(f.name)).toSeq: _*))
      .otherwise(lit(null).cast(st))

  /** A repeated `fullUrl` raises `DUPLICATED_MAP_KEY` unless the session's
    * `spark.sql.mapKeyDedupPolicy` is `LAST_WIN`.
    */
  def rewriteBundle(bundles: DataFrame, legacyCid: Boolean): DataFrame = {
    val withIds = bundles.withColumn("entry_ids",
      transform(col("entry"), e => newIdFor(e)))
    val refMap = map_from_entries(
      filter(
        zip_with(col("entry"), col("entry_ids"), (e, id) =>
          struct(
            e.getField("fullUrl").as("key"),
            concat_ws("/", e.getField("resource").getField("resourceType"), id)
              .as("value"))),
        kv => kv.getField("key").isNotNull))
    withIds.withColumn("refmap", refMap)
      .withColumn("entry",
        zip_with(col("entry"), col("entry_ids"), (e, id) => {
          val withId = e.withField("resource.id", id)
          withId.withField("resource",
            rewriteValue(withId.getField("resource"), Schemas.resource,
              col("refmap"), legacyCid))
        }))
      .drop("entry_ids", "refmap")
  }
}

class ReferenceRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val goldenPath = getClass.getResource("/bundles").getPath

  private def writeBundles(prefix: String, files: Seq[(String, String)]): String = {
    val dir = Files.createTempDirectory(prefix)
    for ((name, json) <- files) Files.write(dir.resolve(name), json.getBytes(UTF_8))
    dir.toString
  }

  private def entries(df: DataFrame): Map[String, String] =
    df.select($"bundle_path", to_json($"entry"))
      .as[(String, String)].collect().toMap

  /** `to_json(entry)` per bundle from the expression and from the oracle,
    * the oracle under `LAST_WIN` so a repeated `fullUrl` keeps the later
    * entry in both.
    */
  private def assertSame(bundles: DataFrame, legacyCid: Boolean): Int = {
    val fast = entries(BundleIngest.rewriteBundle(bundles, legacyCid))
    val key = "spark.sql.mapKeyDedupPolicy"
    spark.conf.set(key, "LAST_WIN")
    val slow =
      try entries(ComposedRewrite.rewriteBundle(bundles, legacyCid))
      finally spark.conf.unset(key)
    assert(fast.keySet == slow.keySet)
    for ((path, json) <- slow) assert(fast(path) == json, path)
    fast.size
  }

  /** The same rows as a local relation: the optimizer folds the projection
    * through interpreted `eval`, not generated code.
    */
  private def local(bundles: DataFrame): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(bundles.collect(): _*), bundles.schema)

  private val edgeBundles = Seq(
    "edges.json" ->
      """{"resourceType": "Bundle", "type": "transaction", "entry": [
        |  null,
        |  {"fullUrl": "urn:uuid:no-resource"},
        |  {"resource": {"resourceType": "Patient", "gender": "male"}},
        |  {"fullUrl": "urn:uuid:no-type", "resource": {"gender": "female"}},
        |  {"fullUrl": "urn:uuid:pé✓", "resource": {"resourceType": "Patient"}},
        |  {"fullUrl": "p9", "resource": {"resourceType": "Practitioner"}},
        |  {"fullUrl": "urn:uuid:o1", "resource": {
        |    "resourceType": "Observation",
        |    "subject": {"reference": "urn:uuid:pé✓", "display": "ü"},
        |    "encounter": {"reference": "urn:uuid:ünknown"},
        |    "context": {"reference": "urn:uuid:no-resource"},
        |    "patient": {"reference": "urn:uuid:no-type"},
        |    "basedOn": [null, {"reference": "cid:urn:uuid:pé✓"}, {"display": "none"}],
        |    "performer": [{"actor": {"reference": "cid:nope"}}, {"role": {"text": "r"}}, null],
        |    "requester": {"agent": {"reference": "cid:p9"}, "onBehalfOf": null},
        |    "result": [{"reference": "cid:"}, {"reference": ""}]}}
        |]}""".stripMargin,
    "no-urls.json" ->
      """{"resourceType": "Bundle", "entry": [
        |  {"resource": {"resourceType": "Patient"}},
        |  {"resource": {"resourceType": "Condition", "subject": {"reference": "urn:uuid:x"}}}
        |]}""".stripMargin,
    "empty.json" -> """{"resourceType": "Bundle", "entry": []}""",
    "repeated.json" ->
      """{"resourceType": "Bundle", "entry": [
        |  {"fullUrl": "urn:uuid:dup", "resource": {"resourceType": "Practitioner"}},
        |  {"fullUrl": "urn:uuid:dup", "resource": {"resourceType": "Patient"}},
        |  {"fullUrl": "urn:uuid:o", "resource": {"resourceType": "Observation",
        |    "subject": {"reference": "urn:uuid:dup"}}}
        |]}""".stripMargin)

  test("rewrite_entries matches the composed rewrite on the golden bundles") {
    val bundles = BundleIngest.readBundles(spark, goldenPath)
    assert(assertSame(bundles, legacyCid = false) == 6)
    assert(assertSame(bundles, legacyCid = true) == 6)
  }

  test("rewrite_entries matches the composed rewrite on 200 GenBundles bundles") {
    val dir = writeBundles("graft-rewrite-gen",
      (0 until 200).map(i => s"b$i.json" -> GenBundles.bundleJson(i)))
    assert(assertSame(BundleIngest.readBundles(spark, dir),
      legacyCid = false) == 200)
  }

  test("rewrite_entries matches the composed rewrite on edge rows, " +
      "generated and interpreted, legacyCid on and off") {
    val bundles = BundleIngest.readBundles(spark,
      writeBundles("graft-rewrite-edge", edgeBundles))
    val edges = bundles.where($"bundle_path".endsWith("edges.json"))
      .select(to_json($"entry")).as[String].head()
    assert(edges.startsWith("[null,"), edges)
    for (cid <- Seq(false, true)) {
      assert(assertSame(bundles, cid) == edgeBundles.size)
      assert(assertSame(local(bundles), cid) == edgeBundles.size)
    }
    // a null bundle path is skipped in the id, as concat_ws skips it
    val noPath = bundles.withColumn("bundle_path", lit(null).cast(StringType))
      .where($"entry".isNotNull).limit(1)
    val ids = BundleIngest.rewriteBundle(local(noPath))
      .select(explode($"entry.resource.id")).as[String].collect().toSet
    val slowIds = ComposedRewrite.rewriteBundle(local(noPath), legacyCid = false)
      .select(explode($"entry.resource.id")).as[String].collect().toSet
    assert(ids.nonEmpty && ids == slowIds)
  }

  test("rewrite_entries keeps the input type and a null entry array") {
    val bundles = BundleIngest.readBundles(spark, goldenPath)
    val out = BundleIngest.rewriteBundle(bundles)
    assert(out.schema == bundles.schema)
    val nullEntry = local(bundles.limit(1).withColumn("entry",
      lit(null).cast(ArrayType(Schemas.entry))))
    assert(BundleIngest.rewriteBundle(nullEntry).select($"entry")
      .collect().toSeq == Seq(Row(null)))
  }

  test("rewriteBundle over readBundles runs in whole-stage codegen with a " +
      "constant-size expression") {
    val out = BundleIngest.rewriteBundle(
      BundleIngest.readBundles(spark, goldenPath))
    val plan = out.queryExecution.executedPlan
    // a ProjectExec outside whole-stage codegen builds its projection once
    // per task; every operator under a WholeStageCodegenExec, down to its
    // InputAdapters, runs in the stage's generated code
    def outside(p: SparkPlan): Seq[SparkPlan] = p match {
      case w: WholeStageCodegenExec => inside(w.child)
      case other =>
        Seq(other).filter(_.isInstanceOf[ProjectExec]) ++
          other.children.flatMap(outside)
    }
    def inside(p: SparkPlan): Seq[SparkPlan] = p match {
      case i: InputAdapter => outside(i.child)
      case other => other.children.flatMap(inside)
    }
    assert(outside(plan).isEmpty, plan.treeString)
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.size == 1, plan.treeString)
    assert(stages.head.collect { case p: ProjectExec => p }
      .exists(_.projectList.exists(_.exists(_.isInstanceOf[RewriteEntries]))))
    val rewrite = out.queryExecution.analyzed.expressions
      .flatMap(_.collect { case r: RewriteEntries => r })
    assert(rewrite.size == 1)
    assert(rewrite.head.collect { case e => e }.size <= 3)
    assert(out.count() == 6)
  }
}
