package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.graft.MetricsBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{CoalesceExec, CommandResultExec,
  GenerateExec, InputAdapter, LocalTableScanExec, ProjectExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.fhir.{BundleIngest, FhirMain, ParquetRawstatStore, RawStats,
  Schemas}
import graft.ops.CoreOps
import graft.tools.GenBundles

/** The join-based rawstat build: the oracle [[RawStats.build]] must match
  * on every row. It explodes the condition codes, broadcast-joins the
  * disease dim, regroups the codes by patient id and joins them back to
  * the patient rows, which took the cousub dim by a second broadcast join.
  *
  * `try_element_at` where the join-based build had `element_at`: under
  * ANSI mode an out-of-range `element_at` failed the whole write on a
  * bundle without a Patient, a Patient with an empty address list or a
  * Condition with an empty coding list. The intended result there is
  * null, which `try_element_at` gives; on every other input the two agree.
  */
object ComposedRawStats {

  private def firstOfType(tpe: String): Column =
    try_element_at(
      filter(col("entry"),
        e => e.getField("resource").getField("resourceType") === tpe), lit(1))
      .getField("resource")

  private def patientProjection(bundles: DataFrame, asOf: Column): DataFrame = {
    val p = firstOfType("Patient")
    val first = (c: Column) => try_element_at(c, lit(1))
    bundles.select(
      p.getField("id").as("patientid"),
      p.getField("gender").as("gender"),
      CoreOps.ageYears(p.getField("birthDate"), asOf).as("age"),
      lit(1).as("agerange"),
      when(p.getField("deceasedDateTime").isNotNull, lit(true))
        .otherwise(p.getField("deceasedBoolean")).as("deceasedboolean"),
      first(p.getField("address")).getField("city").as("city"),
      first(p.getField("address")).getField("postalCode").as("zipcode"),
      transform(
        filter(col("entry"),
          e => e.getField("resource").getField("resourceType") === "Condition"),
        e => struct(
          first(e.getField("resource").getField("code").getField("coding"))
            .getField("system").as("system"),
          first(e.getField("resource").getField("code").getField("coding"))
            .getField("code").as("code"))).as("condcodes"))
  }

  def build(bundles: DataFrame, cousubDim: DataFrame, diseaseDim: DataFrame,
      asOf: Column): DataFrame = {
    val patients = patientProjection(bundles, asOf)
    val conds = patients
      .select(col("patientid"), explode(col("condcodes")).as("cc"))
      .select(col("patientid"), col("cc.system").as("system"),
        col("cc.code").as("code"))
    val dDim = diseaseDim.select(
      col("code_system").as("dim_system"), col("code").as("dim_code"),
      col("condition_id"), col("disease_id"))
    val condJoined = CoreOps.dimJoin(
        conds, dDim,
        col("system") === col("dim_system") && col("code") === col("dim_code"),
        Map("condition_id" -> lit(0), "disease_id" -> lit(0)))
      .drop("dim_system", "dim_code")
    val perPatient = condJoined
      .groupBy(col("patientid"))
      .agg(
        collect_list(struct(
          col("system"), col("code"),
          col("condition_id").as("conditionid"),
          col("disease_id").as("diseaseid"))).as("conditions"))
    val located = CoreOps.dimJoin(
        patients.drop("condcodes"),
        cousubDim.withColumnRenamed("cs_name", "dim_city"),
        col("city") === col("dim_city"),
        Map("ct_fips" -> lit(""), "cs_fips" -> lit("")))
      .drop("dim_city")
    located
      .join(perPatient, Seq("patientid"), "left_outer")
      .withColumn("conditions",
        coalesce(col("conditions"),
          array().cast("array<struct<system:string,code:string,conditionid:int,diseaseid:int>>")))
      .select(
        col("patientid"),
        struct(
          col("ct_fips").as("countyid_fips"),
          col("cs_fips").as("subcountyid_fips"),
          col("city"), col("zipcode")).as("location"),
        col("gender"), col("agerange"), col("age"), col("deceasedboolean"),
        col("conditions"),
        CoreOps.distinctSorted(
          transform(col("conditions"), c => c.getField("conditionid")))
          .as("uniqueconditions"),
        CoreOps.distinctSorted(
          transform(col("conditions"), c => c.getField("diseaseid")))
          .as("uniquediseases"))
  }
}

class RawStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val AsOf = lit("2020-01-01").cast("date")
  private val Snomed = "http://snomed.info/sct"
  private lazy val goldenPath = getClass.getResource("/bundles").getPath

  private def writeBundles(prefix: String, files: Seq[(String, String)]): String = {
    val dir = Files.createTempDirectory(prefix)
    for ((name, json) <- files) Files.write(dir.resolve(name), json.getBytes(UTF_8))
    dir.toString
  }

  private def cousub(rows: (String, String, String)*): DataFrame =
    RawStats.loadCousubDim(rows.toDF("cs_name", "ct_fips", "cs_fips"))

  private def disease(rows: (String, String, Int, Option[Int])*): DataFrame =
    RawStats.loadDiseaseDim(
      rows.toDF("code_system", "code", "condition_id", "disease_id"))

  /** The dims the golden pipeline test uses. */
  private lazy val goldenCousub = cousub(
    ("Springfield", "25001", "2500100001"), ("Ogden Town", "25003", "2500300002"))
  private lazy val goldenDisease = disease(
    (Snomed, "44054006", 1, Some(10)), (Snomed, "38341003", 2, None))

  /** Dims over GenBundles' five cities and five codes, as perfbench's:
    * two ' Town' names, a NULL disease id, a code under another system,
    * a row no bundle matches, and two codes sharing a disease id.
    */
  private lazy val genCousub = cousub(
    ("Springfield", "25013", "2501367000"), ("Shelbyville Town", "25017", "2501761000"),
    ("Ogden", "25003", "2500347000"), ("Agawam Town", "25013", "2501300840"),
    ("Nowhere", "25099", "2509900000"))
  private lazy val genDisease = disease(
    (Snomed, "44054006", 1, Some(10)), (Snomed, "38341003", 2, Some(20)),
    (Snomed, "195662009", 3, None), (Snomed, "10509002", 4, Some(10)),
    ("http://hl7.org/fhir/sid/icd-10", "271737000", 5, Some(50)),
    (Snomed, "73211009", 6, Some(60)))

  /** Every rawstat row as JSON, `conditions` in its order, as a sorted
    * multiset: bundles carry no key the row keeps when the Patient is
    * missing.
    */
  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(col("*")))).as[String].collect().toSeq.sorted

  /** The same rows as a local relation: the optimizer folds the projection
    * through interpreted `eval`, not generated code.
    */
  private def local(bundles: DataFrame): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(bundles.collect(): _*), bundles.schema)

  private def assertSame(bundles: DataFrame, cousubDim: DataFrame,
      diseaseDim: DataFrame): Seq[String] = {
    val fast = RawStats.build(bundles, cousubDim, diseaseDim, AsOf)
    val slow = ComposedRawStats.build(bundles, cousubDim, diseaseDim, AsOf)
    assert(fast.schema == slow.schema)
    val (f, s) = (rows(fast), rows(slow))
    assert(f.size == s.size)
    f.zip(s).foreach { case (a, b) => assert(a == b) }
    f
  }

  /** Both paths: generated code over the file scan, then `eval` over the
    * same bundles as a local relation.
    */
  private def assertSameBothWays(bundles: DataFrame, cousubDim: DataFrame,
      diseaseDim: DataFrame): Seq[String] = {
    val generated = assertSame(bundles, cousubDim, diseaseDim)
    val interpreted = RawStats.build(local(bundles), cousubDim, diseaseDim, AsOf)
      .queryExecution.executedPlan
    assert(interpreted.collect { case p: ProjectExec => p }.isEmpty &&
      interpreted.collect { case l: LocalTableScanExec => l }.size == 1,
      interpreted.treeString)
    assert(assertSame(local(bundles), cousubDim, diseaseDim) == generated)
    generated
  }

  private lazy val genDir = writeBundles("graft-rawstat-gen",
    (0 until 200).map(i => s"b$i.json" -> GenBundles.bundleJson(i)))

  private def rewritten(path: String): DataFrame =
    BundleIngest.rewriteBundle(BundleIngest.readBundles(spark, path))

  private val edgeBundles = {
    def patient(url: String, fields: String): String =
      s"""{"fullUrl": "$url", "resource": {"resourceType": "Patient", $fields}}"""
    def condition(url: String, code: String): String =
      s"""{"fullUrl": "$url", "resource": {"resourceType": "Condition"$code}}"""
    def coding(system: String, code: String): String =
      s""", "code": {"coding": [{"system": "$system", "code": "$code"}]}"""
    def bundle(entries: String*): String =
      s"""{"resourceType": "Bundle", "entry": [${entries.mkString(",\n")}]}"""
    val p = patient("urn:uuid:p", """"gender": "female", "birthDate": "1980-02-29",
      |"address": [{"city": "Springfield", "postalCode": "01101"}]""".stripMargin)
    Seq(
      "no-patient.json" -> bundle(
        condition("urn:uuid:c1", coding(Snomed, "44054006")),
        """{"fullUrl": "urn:uuid:e", "resource": {"resourceType": "Encounter"}}"""),
      "two-patients.json" -> bundle(
        condition("urn:uuid:c1", coding(Snomed, "38341003")),
        patient("urn:uuid:p1", """"gender": "male", "birthDate": "1950-06-01",
          |"deceasedBoolean": false, "address": [{"city": "Ogden"}]""".stripMargin),
        patient("urn:uuid:p2", """"gender": "female", "birthDate": "1990-01-01",
          |"address": [{"city": "Springfield"}]""".stripMargin)),
      "no-coding.json" -> bundle(p,
        condition("urn:uuid:c1", ""),
        condition("urn:uuid:c2", """, "code": {"text": "no coding"}"""),
        condition("urn:uuid:c3", """, "code": {"coding": []}"""),
        condition("urn:uuid:c4", """, "code": {"coding": [null, {"code": "x"}]}"""),
        condition("urn:uuid:c5", """, "code": {"coding": [{"code": "44054006"}]}""")),
      "misses.json" -> bundle(
        patient("urn:uuid:p", """"gender": "male", "address": [{"city": "Atlantis"}],
          |"deceasedDateTime": "2019-05-01T00:00:00Z"""".stripMargin),
        condition("urn:uuid:c1", coding(Snomed, "999999")),
        condition("urn:uuid:c2", coding("http://other", "44054006"))),
      "sentinel-repeats.json" -> bundle(p,
        condition("urn:uuid:c1", coding(Snomed, "38341003")),
        condition("urn:uuid:c2", coding(Snomed, "44054006")),
        condition("urn:uuid:c3", coding(Snomed, "38341003")),
        condition("urn:uuid:c4", coding(Snomed, "44054006"))),
      "addresses.json" -> bundle(
        patient("urn:uuid:p", """"address": [], "deceasedBoolean": true"""),
        condition("urn:uuid:c", coding(Snomed, "44054006"))),
      "null-entries.json" ->
        s"""{"resourceType": "Bundle", "entry": [null, {"fullUrl": "urn:uuid:x"},
           |{"resource": {"gender": "male"}}, $p]}""".stripMargin,
      "empty.json" -> """{"resourceType": "Bundle", "entry": []}""")
  }

  test("rawstat matches the join-based build on the golden bundles") {
    val out = assertSameBothWays(rewritten(goldenPath), goldenCousub, goldenDisease)
    assert(out.size == 6)
  }

  test("rawstat matches the join-based build on 200 GenBundles bundles") {
    val out = assertSameBothWays(rewritten(genDir), genCousub, genDisease)
    assert(out.size == 200)
    assert(out.exists(_.contains("-999")) && out.exists(_.contains("\"countyid_fips\":\"\"")))
  }

  test("rawstat matches the join-based build on edge rows, generated and " +
      "interpreted") {
    val bundles = rewritten(writeBundles("graft-rawstat-edge", edgeBundles))
    val nullEntry = local(bundles.limit(1)
      .withColumn("entry", lit(null).cast(ArrayType(Schemas.entry))))
    val all = bundles.unionByName(nullEntry)
    val out = assertSameBothWays(all, goldenCousub, goldenDisease)
    assert(out.size == edgeBundles.size + 1)
    val got = RawStats.build(all, goldenCousub, goldenDisease, AsOf)
      .select($"patientid", $"gender", $"age", $"location.city",
        $"location.countyid_fips", $"conditions.conditionid",
        $"conditions.diseaseid", $"conditions.code", $"uniqueconditions",
        $"uniquediseases")
      .as[(Option[String], Option[String], Option[Int], Option[String], String,
        Seq[Int], Seq[Int], Seq[Option[String]], Seq[Int], Seq[Int])].collect()
    // no Patient (and a null or empty entry): a row of nulls, no conditions
    val noPatient = got.filter(_._1.isEmpty)
    assert(noPatient.length == 3)
    assert(noPatient.forall(r => r._2.isEmpty && r._3.isEmpty && r._5 == "" &&
      r._6.isEmpty && r._9.isEmpty))
    // the first Patient wins
    assert(got.exists(r => r._2.contains("male") && r._3.contains(69) &&
      r._4.contains("Ogden") && r._7 == Seq(-999)))
    // a repeated code stays in conditions and is deduplicated in the
    // unique arrays, -999 included
    assert(got.exists(r => r._6 == Seq(2, 1, 2, 1) && r._9 == Seq(1, 2) &&
      r._10 == Seq(-999, 10)))
    // no coding, an empty or null first coding, a coding without system
    assert(got.exists(r => r._8 == Seq(None, None, None, None, Some("44054006")) &&
      r._6 == Seq(0, 0, 0, 0, 0) && r._7 == Seq(0, 0, 0, 0, 0)))
  }

  test("a dim key listed with two values fails, naming the dim, the key " +
      "and both values; a repeated identical row is kept once") {
    val bundles = rewritten(goldenPath)
    // 'Springfield Town' loads as 'Springfield': the join counted the
    // Springfield patient once under each cs_fips
    val cityClash = intercept[IllegalArgumentException] {
      RawStats.build(bundles, cousub(("Springfield", "25001", "2500100001"),
        ("Springfield Town", "25001", "2500199999")), goldenDisease, AsOf).collect()
    }
    assert(cityClash.getMessage.contains("cousub dim maps Springfield to both " +
      "(25001, 2500100001) and (25001, 2500199999)"), cityClash.getMessage)
    val codeClash = intercept[IllegalArgumentException] {
      RawStats.build(bundles, goldenCousub, disease((Snomed, "44054006", 1, Some(10)),
        (Snomed, "38341003", 2, None), (Snomed, "44054006", 7, Some(70))), AsOf).collect()
    }
    assert(codeClash.getMessage.contains(s"disease dim maps ($Snomed, 44054006) " +
      "to both (1, 10) and (7, 70)"), codeClash.getMessage)
    val once = RawStats.build(bundles, goldenCousub, goldenDisease, AsOf)
    val twice = RawStats.build(bundles,
      goldenCousub.union(goldenCousub), goldenDisease.union(goldenDisease), AsOf)
    assert(rows(twice) == rows(once) && rows(once).size == 6)
  }

  test("a dim past the lookup maps' row bound fails, naming the dim and " +
      "its row count; the bound's maps fit their stated size") {
    val n = RawStats.Dims.MaxRows + 1
    val big = spark.range(n).select(
      concat(lit("City "), col("id")).as("cs_name"),
      lpad(col("id").cast("string"), 5, "0").as("ct_fips"),
      lpad(col("id").cast("string"), 10, "0").as("cs_fips"))
    val e = intercept[IllegalArgumentException] {
      RawStats.Dims.collect(big, goldenDisease)
    }
    assert(e.getMessage.contains(s"the cousub dim has $n rows"), e.getMessage)
    val atBound = RawStats.Dims.collect(big.limit(n - 1), goldenDisease)
    val bytes = org.apache.spark.util.SizeEstimator.estimate(atBound)
    info(s"lookup maps at ${n - 1} cousub rows: ${bytes / 1000000} MB")
    assert(bytes < 32L * 1000 * 1000, s"$bytes bytes")
  }

  /** Every node of an executed plan: AQE's final plan, query stages,
    * reused exchanges, a command's physical plan, a cached relation's
    * plan and subqueries included.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case _ => Nil
  }) ++ p.children ++ p.subqueries).flatMap(nodes)

  private def fallbacks(p: SparkPlan): Seq[String] =
    nodes(p).flatMap(_.expressions.flatMap(_.collect {
      case e: CodegenFallback => e.prettyName
    })).distinct

  test("the rawstat write is one whole-stage-codegen stage over the cached " +
      "bundles: 1 job, 1 task, no exchange, aggregate, generator or fallback") {
    val bundles = rewritten(genDir).cache()
    try {
      assert(bundles.count() == 200)
      val rawstat = RawStats.build(bundles, genCousub, genDisease, AsOf)
      val plan = rawstat.queryExecution.executedPlan
      val all = nodes(plan)
      assert(all.collect {
        case n @ (_: Exchange | _: ObjectHashAggregateExec | _: GenerateExec) => n
      }.isEmpty, plan.treeString)
      assert(fallbacks(plan).isEmpty, plan.treeString)
      val stages = plan.collect { case w: WholeStageCodegenExec => w }
      // under the write, at most a coalesce of the stage's partitions
      val top = plan match { case c: CoalesceExec => c.child; case p => p }
      assert(stages.size == 1 && (top eq stages.head), plan.treeString)
      assert(stages.head.collect { case i: InputAdapter => i.child }
        .map(_.getClass) == Seq(classOf[InMemoryTableScanExec]), plan.treeString)

      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stagesRun = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          stagesRun.incrementAndGet()
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
      }
      val out = Files.createTempDirectory("graft-rawstat-plan-out").toString
      MetricsBridge.drainListenerBus(spark.sparkContext, 10000)
      spark.sparkContext.addSparkListener(listener)
      try {
        new ParquetRawstatStore(out).write(rawstat)
        MetricsBridge.drainListenerBus(spark.sparkContext, 10000)
      } finally spark.sparkContext.removeSparkListener(listener)
      // the bundles' splits are far below spark.sql.files.maxPartitionBytes,
      // so one task writes one file
      assert(jobs.get == 1 && stagesRun.get == 1 && tasks.get == 1,
        s"${jobs.get} jobs, ${stagesRun.get} stages, ${tasks.get} tasks")
      assert(spark.read.parquet(s"$out/rawstat").inputFiles.length == 1)
      assert(spark.read.parquet(s"$out/rawstat").count() == 200)
    } finally bundles.unpersist()
  }

  test("FhirMain.run holds no CodegenFallback expression in any executed " +
      "plan") {
    val dims = Files.createTempDirectory("graft-codegen-dims").toString
    goldenCousub.write.parquet(s"$dims/cousub")
    goldenDisease.write.parquet(s"$dims/disease")
    val plans = mutable.ArrayBuffer.empty[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += funcName -> qe.executedPlan }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val out = Files.createTempDirectory("graft-codegen-out").toString
    MetricsBridge.drainListenerBus(spark.sparkContext, 10000)
    spark.listenerManager.register(listener)
    try {
      FhirMain.run(spark, goldenPath, out, Some(s"$dims/cousub"),
        Some(s"$dims/disease"), "2020-01-01")
      MetricsBridge.drainListenerBus(spark.sparkContext, 10000)
    } finally spark.listenerManager.unregister(listener)
    val found = plans.synchronized(plans.toList)
    assert(found.size >= 6, found.map(_._1))
    val written = found.flatMap { case (_, p) => nodes(p).collect {
      case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _) =>
        w.outputPath.getName
    } }
    assert(written.sorted == Seq("rawstat", "resources", "synth_condition_facts",
      "synth_disease_facts", "synth_pop_facts"))
    for ((name, p) <- found)
      assert(fallbacks(p).isEmpty, s"$name: ${fallbacks(p)}\n${p.treeString}")
  }
}
