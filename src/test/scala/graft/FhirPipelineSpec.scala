package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fhir.{BundleIngest, FactJobs, FactSink, FhirMain, ParquetSink,
  RawStats, ResourceSink}

/** Golden end-to-end pipeline test (SURVEY §5.2-2): fixture corpus →
  * ingest + rewrite + rawstat + 3 rollups, asserted against hand-computed
  * goldens. Deterministic IDs make the T4 rewrite assertable.
  */
case class RS(gender: String, age: Int, agerange: Int,
    deceased: Option[Boolean], ct: String, cs: String, city: String,
    nConds: Long, uc: Seq[Int], ud: Seq[Int])

class FhirPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val bundlesPath =
    getClass.getResource("/bundles").getPath
  private lazy val bundles =
    BundleIngest.readBundles(spark, bundlesPath)
  private lazy val rewritten = BundleIngest.rewriteBundle(bundles).cache()

  private lazy val cousubDim = RawStats.loadCousubDim(Seq(
    ("Springfield", "25001", "2500100001"),
    ("Ogden Town", "25003", "2500300002"))
    .toDF("cs_name", "ct_fips", "cs_fips"))

  private lazy val diseaseDim = RawStats.loadDiseaseDim(Seq(
    ("http://snomed.info/sct", "44054006", 1, Some(10)),
    ("http://snomed.info/sct", "38341003", 2, None))
    .toDF("code_system", "code", "condition_id", "disease_id"))

  private lazy val rawstat = RawStats.build(
    rewritten, cousubDim, diseaseDim, lit("2020-01-01").cast("date")).cache()

  test("S1/S2: reads 6 bundles, silently skips the malformed file") {
    assert(bundles.count() == 6)
  }

  test("FhirMain.run counts the files its scan skipped: malformed.json, " +
      "1 of 7 on the golden directory") {
    val out = java.nio.file.Files.createTempDirectory("graft-skipped").toString
    val printed = new java.io.ByteArrayOutputStream
    // Par's branch threads inherit the console
    Console.withOut(printed) {
      FhirMain.run(spark, bundlesPath, out, None, None, "2020-01-01")
    }
    val line = printed.toString("UTF-8").linesIterator
      .filter(_.contains("FHIR bundles read")).toSeq
    assert(line.size == 1 && line.head.startsWith("6 FHIR bundles read in ") &&
      line.head.endsWith(" seconds; 1 of 7 files skipped"), line)
  }

  test("T4: internal references rewritten, external ones pass through") {
    val refs = BundleIngest.routeResources(rewritten)
      .select(col("resource.subject.reference").as("r"))
      .where(col("r").isNotNull)
      .union(rewritten.select(explode(col("entry")).as("e"))
        .select(col("e.resource.requester.agent.reference").as("r"))
        .where(col("r").isNotNull))
      .as[String].collect().toSeq
    val stillUrn = refs.filter(_.startsWith("urn:uuid:"))
    // the only unresolved ref is the practitioner that has no entry
    assert(stillUrn == Seq("urn:uuid:unknown-practitioner"))
    // subject refs: b1 has 5 (3 conditions + encounter + observation),
    // b2 has 2, b4 has 1, b5 has 3, b6 has 4 — all resolve to Patient/<newid>
    assert(refs.count(_.startsWith("Patient/")) == 15)
  }

  test("T4: backward and forward references resolve to the patient's new id") {
    val byBundle = rewritten
      .select(col("bundle_path"), explode(col("entry")).as("e"))
    val patients = byBundle
      .where(col("e.resource.resourceType") === "Patient")
      .select(col("bundle_path"), col("e.resource.id").as("pid"))
    val condRefs = byBundle
      .where(col("e.resource.resourceType") === "Condition")
      .select(col("bundle_path"), col("e.resource.subject.reference").as("ref"))
    val joined = condRefs.join(patients, "bundle_path")
    assert(joined.count() == 7)
    assert(joined.filter(col("ref") =!= concat(lit("Patient/"), col("pid")))
      .count() == 0)
  }

  test("T4: nested array references (basedOn, performer.actor) rewritten") {
    val proc = rewritten.select(explode(col("entry")).as("e"))
      .where(col("e.resource.resourceType") === "Procedure")
      .select(
        col("e.resource.basedOn.reference").as("based"),
        col("e.resource.performer.actor.reference").as("actors"))
      .as[(Seq[String], Seq[String])].head()
    assert(proc._1.forall(_.startsWith("Condition/")))
    assert(proc._2.forall(_.startsWith("Patient/")))
  }

  test("T4 is idempotent: rewriting a rewritten bundle changes nothing") {
    val once = rewritten
    val twice = BundleIngest.rewriteBundle(once)
    // already-rewritten refs ("Patient/<id>") match no refMap key and the
    // new ids derive from the same (path, fullUrl) → byte-identical entries
    val a = once.select(to_json(col("entry")).as("j")).orderBy("j")
      .as[String].collect().toSeq
    val b = twice.select(to_json(col("entry")).as("j")).orderBy("j")
      .as[String].collect().toSeq
    assert(a == b)
  }

  test("T2: a repeated fullUrl keeps the later entry, as the reference's " +
      "map assignment does, and the run completes") {
    import java.nio.file.{Files, Paths}
    val in = Files.createTempDirectory("graft-dup-in")
    Files.copy(Paths.get(bundlesPath, "b1.json"), in.resolve("b1.json"))
    Files.write(in.resolve("dup.json"),
      """{"resourceType": "Bundle", "type": "transaction", "entry": [
        |  {"fullUrl": "urn:uuid:dup", "resource": {"resourceType": "Practitioner"}},
        |  {"fullUrl": "urn:uuid:dup", "resource": {"resourceType": "Patient",
        |    "gender": "male", "birthDate": "1970-01-01"}},
        |  {"fullUrl": "urn:uuid:obs", "resource": {"resourceType": "Observation",
        |    "subject": {"reference": "urn:uuid:dup"}}}
        |]}""".stripMargin.getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft-dup-out").toString
    FhirMain.run(spark, in.toString, out, None, None, "2020-01-01")
    val res = spark.read.parquet(s"$out/resources")
      .where(col("bundle_path").endsWith("dup.json"))
    val patientId = res.where(col("collection") === "patients")
      .select(col("resource.id")).as[String].collect().toSeq
    assert(patientId.size == 1)
    val subject = res.where(col("collection") === "observations")
      .select(col("resource.subject.reference")).as[String].collect().toSeq
    assert(subject == Seq(s"Patient/${patientId.head}"))
    assert(spark.read.parquet(s"$out/rawstat").count() == 2)
  }

  test("T6: routing counts per collection") {
    val counts = BundleIngest.routeResources(rewritten)
      .groupBy("collection").count()
      .as[(String, Long)].collect().toMap
    assert(counts == Map(
      "patients" -> 6L, "conditions" -> 7L, "encounters" -> 2L,
      "observations" -> 2L, "medicationrequests" -> 1L, "procedures" -> 1L,
      "allergyintolerances" -> 1L, "careplans" -> 1L,
      "immunizations" -> 1L, "diagnosticreports" -> 1L))
  }

  test("rawstat golden: demographics, dims, dedup arrays") {
    val rows = rawstat.select(
      col("gender"), col("age"), col("agerange"),
      col("deceasedboolean").as("deceased"),
      col("location.countyid_fips").as("ct"),
      col("location.subcountyid_fips").as("cs"),
      col("location.city").as("city"),
      size(col("conditions")).cast("long").as("nConds"),
      col("uniqueconditions").as("uc"), col("uniquediseases").as("ud"))
      .as[RS].collect()
      .sortBy(r => (r.city, r.gender, r.age))
    assert(rows.length == 6)
    val byAge = rows.map(r => r.age -> r).toMap
    // p1: Springfield female, 39 (birthday not yet at Jan 1)
    assert(byAge(39) == RS("female", 39, 1, None, "25001", "2500100001",
      "Springfield", 3, Seq(1, 2), Seq(-999, 10)))
    // p2: Shelbyville male 65, unmatched city -> "", untracked code -> {0,0}
    assert(byAge(65) == RS("male", 65, 1, Some(false), "", "",
      "Shelbyville", 1, Seq(0), Seq(0)))
    // p3: leap-day birth, deceasedBoolean true, no conditions
    assert(byAge(19) == RS("male", 19, 1, Some(true), "25001", "2500100001",
      "Springfield", 0, Seq(), Seq()))
    // p4: deceasedDateTime -> true; 'Ogden Town' dim matched after strip
    assert(byAge(29) == RS("female", 29, 1, Some(true), "25003", "2500300002",
      "Ogden", 1, Seq(1), Seq(10)))
    // p5: child, two tracked conditions incl. -999 disease
    assert(byAge(9) == RS("female", 9, 1, None, "25003", "2500300002",
      "Ogden", 2, Seq(1, 2), Seq(-999, 10)))
  }

  test("fact rollups golden (3 jobs)") {
    val pop = FactJobs.populationFacts(rawstat)
      .orderBy("cs_fips")
      .as[(String, Int, Long, Long, Long)].collect().toSeq
    assert(pop == Seq(
      ("", 1, 2L, 2L, 0L), // p2 (Shelbyville) + p6 (Quincy): unmatched cities
      ("2500100001", 1, 1L, 0L, 1L),
      ("2500300002", 1, 1L, 0L, 1L)))

    val dis = FactJobs.diseaseFacts(rawstat)
      .orderBy("cs_fips", "disease_id")
      .as[(String, Int, Int, Long, Long, Long)].collect().toSeq
    assert(dis == Seq(
      ("2500100001", 10, 1, 1L, 0L, 1L),
      ("2500300002", 10, 1, 1L, 0L, 1L)))

    val con = FactJobs.conditionFacts(rawstat)
      .orderBy("cs_fips", "condition_id")
      .as[(String, Int, Int, Long, Long, Long)].collect().toSeq
    assert(con == Seq(
      ("2500100001", 1, 1, 1L, 0L, 1L),
      ("2500100001", 2, 1, 1L, 0L, 1L),
      ("2500300002", 1, 1, 1L, 0L, 1L),
      ("2500300002", 2, 1, 1L, 0L, 1L)))
  }

  test("rawstat round-trips through the typed Dataset[RawStat] encoder") {
    val ds = graft.fhir.RawStats.typed(rawstat)
    val rows = ds.collect()
    assert(rows.length == 6)
    val p2 = rows.find(_.age == 65).get
    assert(p2.gender == "male" && p2.deceasedboolean.contains(false)
      && p2.location.city == "Shelbyville"
      && p2.conditions.map(_.conditionid) == Seq(0)
      && p2.uniquediseases == Seq(0))
  }

  test("S5: partitioned resource sink round-trips") {
    val out = java.nio.file.Files.createTempDirectory("graft-resources")
      .toString
    new ParquetSink(out).writeResources(BundleIngest.routeResources(rewritten))
    val back = spark.read.parquet(s"$out/resources")
    assert(back.count() == 23)
    assert(back.select("collection").distinct().count() == 10)
  }

  test("S5: resource files follow bytes, not input partitions: one data " +
      "file per collection from 16 input partitions") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft-resources-layout")
    val routed = BundleIngest.routeResources(rewritten.repartition(16))
    assert(routed.rdd.getNumPartitions == 16)
    new ParquetSink(out.toString).writeResources(routed)
    def list(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val dirs = list(out.resolve("resources"))
      .filter(_.getFileName.toString.startsWith("collection="))
    assert(dirs.size == 10)
    for (d <- dirs) {
      val data = list(d).map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(data.size == 1, s"$d holds ${data.mkString(", ")}")
    }
  }

  test("S6/S7: the three rollups through the Mongo rawstat store seam " +
      "produce facts identical to the parquet path") {
    import java.nio.file.{Files, Paths}
    import graft.fhir.MongoRawstatStore
    val outParquet = Files.createTempDirectory("graft-rs-pq").toString
    val outMongo = Files.createTempDirectory("graft-rs-mg").toString
    // connector seams replaced by a parquet round-trip in the store's OWN
    // location — proving run() persists and re-reads rawstat through the
    // store, not through the warehouse path
    val storeDir = Files.createTempDirectory("graft-rs-store").toString
    var seamWrites = 0
    var seamReads = 0
    val fake = new MongoRawstatStore("mongodb://unused", "fhir") {
      override protected def writeSeam(rawstat: DataFrame): Unit = {
        seamWrites += 1
        rawstat.write.mode("overwrite").parquet(s"$storeDir/rawstat_coll")
      }
      override protected def readSeam(
          spark: org.apache.spark.sql.SparkSession): DataFrame = {
        seamReads += 1
        spark.read.parquet(s"$storeDir/rawstat_coll")
      }
    }
    FhirMain.run(spark, bundlesPath, outParquet, None, None, "2020-01-01")
    FhirMain.run(spark, bundlesPath, outMongo, None, None, "2020-01-01",
      rawstatStore = Some(fake))
    assert(seamWrites == 1 && seamReads == 1)
    // the Mongo-store run wrote no warehouse rawstat: the collection is
    // the system of record (reference bundle.go:122-124)
    assert(!Files.exists(Paths.get(outMongo, "rawstat")))
    for (t <- Seq("synth_pop_facts", "synth_disease_facts",
        "synth_condition_facts")) {
      val a = spark.read.parquet(s"$outParquet/$t")
        .collect().map(_.toString).sorted.toSeq
      val b = spark.read.parquet(s"$outMongo/$t")
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"fact table $t differs across rawstat stores")
    }
  }

  test("FhirMain.run: a failing resource sink is rethrown with a failing " +
      "fact write suppressed, and every other branch still writes") {
    import java.nio.file.{Files, Paths}
    // fresh throwables per run: addSuppressed mutates the one rethrown
    def failingResources(e: Throwable): ResourceSink = new ResourceSink {
      def writeResources(routed: DataFrame): Unit = throw e
      def reset(): Unit = ()
    }
    def factsRefusing(refused: String, e: Throwable, out: String): FactSink =
      new FactSink {
        private val parquet = new ParquetSink(out)
        def writeFacts(table: String, facts: DataFrame): Unit =
          if (table == refused) throw e else parquet.writeFacts(table, facts)
        def clearFactTables(tables: Seq[String]): Unit = ()
      }
    val facts = Seq("synth_pop_facts", "synth_disease_facts",
      "synth_condition_facts")

    val both = Files.createTempDirectory("graft-fail-both").toString
    val resourceFailure = new IllegalStateException("resource sink down")
    val factFailure = new IllegalStateException("disease facts refused")
    val thrown = intercept[IllegalStateException] {
      FhirMain.run(spark, bundlesPath, both, None, None, "2020-01-01",
        resourceSink = Some(failingResources(resourceFailure)),
        factSink = Some(
          factsRefusing("synth_disease_facts", factFailure, both)))
    }
    assert(thrown eq resourceFailure)
    assert(thrown.getSuppressed.toSeq == Seq(factFailure))
    assert(spark.read.parquet(s"$both/rawstat").count() == 6)
    for (t <- facts)
      assert(Files.exists(Paths.get(both, t)) == (t != "synth_disease_facts"),
        t)

    val alone = Files.createTempDirectory("graft-fail-res").toString
    val onlyFailure = new IllegalStateException("resource sink down")
    val thrownAlone = intercept[IllegalStateException] {
      FhirMain.run(spark, bundlesPath, alone, None, None, "2020-01-01",
        resourceSink = Some(failingResources(onlyFailure)))
    }
    assert((thrownAlone eq onlyFailure) && thrownAlone.getSuppressed.isEmpty)
    assert(spark.read.parquet(s"$alone/rawstat").count() == 6)
    for (t <- facts)
      assert(Files.exists(Paths.get(alone, t)), t)
  }

  test("S7: the Mongo read schema matches the rawstat the pipeline builds") {
    // the explicit schema handed to the connector (skips sampling, anchors
    // $project pushdown) must track RawStats.build's output — a drift here
    // would surface as silently-null columns on a real cluster
    val enc = org.apache.spark.sql.Encoders.product[
      graft.fhir.Schemas.RawStat].schema
    // nullability is normalized away: the encoder marks primitive case-
    // class fields NOT NULL where the relational plan can't, and a
    // nullable read schema is always the safe direction for storage
    def shape(s: org.apache.spark.sql.types.StructType): Seq[(String, String)] =
      s.fields.toSeq.map(f =>
        (f.name, f.dataType.sql.replace(" NOT NULL", "")))
    assert(shape(enc) == shape(rawstat.schema))
  }
}
