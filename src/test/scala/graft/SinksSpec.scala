package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fhir.{BundleIngest, CopyFactSink, FhirMain, JdbcFactSink,
  MongoResourceSink, ParquetSink, Schemas}

class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val rewritten = BundleIngest.rewriteBundle(
    BundleIngest.readBundles(spark,
      getClass.getResource("/bundles").getPath))

  test("ParquetSink appends resources; reset clears them (S5/S10)") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val sink = new ParquetSink(dir)
    val routed = BundleIngest.routeResources(rewritten)
    sink.writeResources(routed)
    sink.writeResources(routed) // no -reset → duplicates, like the reference
    assert(spark.read.parquet(s"$dir/resources").count() == 46)
    sink.reset()
    assert(!Files.exists(java.nio.file.Paths.get(dir, "resources")))
    sink.writeResources(routed)
    assert(spark.read.parquet(s"$dir/resources").count() == 23)
  }

  test("ParquetSink fact write is idempotent per run (S8/S9 overwrite)") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val sink = new ParquetSink(dir)
    val facts = Seq(("A", 1, 2L, 1L, 1L))
      .toDF("cs_fips", "age_id", "pop", "pop_male", "pop_female")
    sink.writeFacts("synth_pop_facts", facts)
    sink.writeFacts("synth_pop_facts", facts)
    assert(spark.read.parquet(s"$dir/synth_pop_facts").count() == 1)
  }

  test("CLI flags parse Go-style: -key value pairs + bare booleans") {
    val opts = FhirMain.parseFlags(Array(
      "-path", "/in", "-out", "/w", "-reset", "-workers", "8",
      "-pgurl", "jdbc:postgresql://h/db", "-mongo", "mongodb://h",
      "-dbname", "fhir", "-debug"))
    assert(opts("-path") == "/in")
    assert(opts("-workers") == "8")
    assert(opts.contains("-reset") && opts.contains("-debug"))
    assert(opts("-pgurl") == "jdbc:postgresql://h/db")
    assert(opts("-mongo") == "mongodb://h")
    assert(opts("-dbname") == "fhir")
    // bare boolean flags must not swallow the following flag
    val opts2 = FhirMain.parseFlags(Array("-reset", "-path", "/p"))
    assert(opts2("-path") == "/p")
    // Go-style hard errors: unknown flag, value-flag with no value
    assertThrows[RuntimeException] {
      FhirMain.parseFlags(Array("-rest", "-path", "/p"))
    }
    assertThrows[RuntimeException] {
      FhirMain.parseFlags(Array("-path"))
    }
  }

  test("-schema qualifies Postgres fact tables, defaults to synth_ma") {
    // Derby's default schema is APP: the qualified write/truncate path
    // must behave exactly like the bare-table one
    val url = "jdbc:derby:memory:graftFactsQ;create=true"
    val sink = new JdbcFactSink(url, Some("APP"))
    sink.clearFactTables(Seq("synth_pop_facts"))
    val facts = Seq(("25017", 1, 10L, 4L, 6L))
      .toDF("cs_fips", "age_id", "pop", "pop_male", "pop_female")
    sink.writeFacts("synth_pop_facts", facts)
    assert(spark.read.jdbc(
      url, "APP.synth_pop_facts", new java.util.Properties).count() == 1)
    sink.clearFactTables(Seq("synth_pop_facts"))
    assert(spark.read.jdbc(
      url, "APP.synth_pop_facts", new java.util.Properties).count() == 0)
    // a missing schema truncates to a no-op, like a missing table
    new JdbcFactSink(url, Some("NO_SUCH_SCHEMA"))
      .clearFactTables(Seq("synth_pop_facts"))
  }

  test("-mongo -reset no longer crashes after the fact truncate") {
    // reset defers to overwrite-at-next-write (reference drops and
    // logs-and-continues, db.go:63-75) — must not throw
    new MongoResourceSink("mongodb://unused", "fhir").reset()
  }

  test("sink selection mirrors the reference wiring (main.go:29-69)") {
    val (r0, f0) = FhirMain.sinksFor(Map.empty, "/w")
    assert(r0.isInstanceOf[ParquetSink] && f0.isInstanceOf[ParquetSink])
    val (r1, f1) = FhirMain.sinksFor(
      Map("-mongo" -> "mongodb://h", "-pgurl" -> "jdbc:derby:memory:x"),
      "/w")
    assert(r1.isInstanceOf[MongoResourceSink])
    assert(f1.isInstanceOf[JdbcFactSink])
    // a real Postgres URL selects the reference's COPY wire path
    val (_, f2) = FhirMain.sinksFor(
      Map("-pgurl" -> "jdbc:postgresql://h/db"), "/w")
    assert(f2.isInstanceOf[CopyFactSink])
  }

  test("JdbcFactSink writes + truncates against embedded Derby (S8/S9)") {
    val url = "jdbc:derby:memory:graftFacts;create=true"
    val sink = new JdbcFactSink(url)
    // first run: nothing to truncate — must be a no-op, not an error
    sink.clearFactTables(Seq("synth_pop_facts"))
    val facts = Seq(("25017", 1, 10L, 4L, 6L), ("25021", 1, 3L, 2L, 1L))
      .toDF("cs_fips", "age_id", "pop", "pop_male", "pop_female")
    sink.writeFacts("synth_pop_facts", facts)
    val back = spark.read.jdbc(
      url, "synth_pop_facts", new java.util.Properties)
    assert(back.count() == 2)
    // counts are narrowed to int at the relational boundary (db.go:35-37)
    assert(back.schema("pop").dataType ==
      org.apache.spark.sql.types.IntegerType)
    sink.clearFactTables(Seq("synth_pop_facts"))
    assert(spark.read.jdbc(
      url, "synth_pop_facts", new java.util.Properties).count() == 0)
    // append semantics across runs (reference COPYs into kept tables)
    sink.writeFacts("synth_pop_facts", facts)
    sink.writeFacts("synth_pop_facts", facts)
    assert(spark.read.jdbc(
      url, "synth_pop_facts", new java.util.Properties).count() == 4)
  }

  test("CopyFactSink streams COPY TEXT per partition; rows identical to " +
    "the insert sink via JDBC read-back (S8 true-COPY path)") {
    val url = "jdbc:derby:memory:graftCopy;create=true"
    val facts = Seq(
      ("25017", 1, 10L, 4L, 6L), ("25021", 1, 3L, 2L, 1L),
      ("25025", 2, 7L, 3L, 4L), ("25027", 3, 9L, 5L, 4L))
      .toDF("cs_fips", "age_id", "pop", "pop_male", "pop_female")
      .repartition(3) // multiple partitions → multiple COPY connections
    // the insert sink creates the table and provides the comparison rows
    val insertSink = new JdbcFactSink(url)
    insertSink.writeFacts("facts_ref", facts)
    insertSink.writeFacts("facts_copy", facts)
    insertSink.clearFactTables(Seq("facts_copy"))
    // same pipeline, COPY wire format, portable executor (Derby has no
    // COPY protocol; Postgres deployments get pgCopyIn by default)
    val copySink = new CopyFactSink(url, None, new java.util.Properties,
      CopyFactSink.jdbcCopyIn)
    copySink.writeFacts("facts_copy", facts)
    val props = new java.util.Properties
    val ref = spark.read.jdbc(url, "facts_ref", props)
    val got = spark.read.jdbc(url, "facts_copy", props)
    assert(got.schema == ref.schema)
    assert(got.orderBy("cs_fips").collect().toSeq ==
      ref.orderBy("cs_fips").collect().toSeq)
    // truncate works through the same sink
    copySink.clearFactTables(Seq("facts_copy"))
    assert(spark.read.jdbc(url, "facts_copy", props).count() == 0)
  }

  test("CopyFactSink bootstraps a fresh database: schema + table created " +
    "before the first COPY") {
    // the JDBC-append path auto-creates tables; the COPY path must match
    // or a first run against an empty database dies mid-ingest
    val url = "jdbc:derby:memory:graftCopyFresh;create=true"
    val facts = Seq(("25017", 1, 10L, 4L, 6L), ("25021", 2, 3L, 2L, 1L))
      .toDF("cs_fips", "age_id", "pop", "pop_male", "pop_female")
    val sink = new CopyFactSink(url, Some("synth_ma"),
      new java.util.Properties, CopyFactSink.jdbcCopyIn)
    // nothing pre-created: truncate of the missing table must no-op,
    // then the write must create schema + table and land the rows
    sink.clearFactTables(Seq("pop_facts"))
    sink.writeFacts("pop_facts", facts)
    val got = spark.read.jdbc(url, "synth_ma.pop_facts",
      new java.util.Properties)
    assert(got.count() == 2)
    assert(got.select("cs_fips").as[String].collect().toSet ==
      Set("25017", "25021"))
    // int narrowing happened in the created table too
    assert(got.schema("pop").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // second write appends against the now-existing table (create is
    // swallowed, not an error)
    sink.writeFacts("pop_facts", facts)
    assert(spark.read.jdbc(url, "synth_ma.pop_facts",
      new java.util.Properties).count() == 4)
  }

  test("CopyFactSink: three concurrent fact writes bootstrap one fresh " +
    "schema and land every row") {
    // FhirMain.run writes the three fact tables at once, so each write's
    // CREATE SCHEMA races the other two
    val url = "jdbc:derby:memory:graftCopyConcurrent;create=true"
    val sink = new CopyFactSink(url, Some("synth_par"),
      new java.util.Properties, CopyFactSink.jdbcCopyIn)
    val rows = Seq("pop_facts", "disease_facts", "condition_facts")
      .zipWithIndex.map { case (t, i) =>
        t -> (0 until 5 + i).map(k => (s"cs$k", i, k, 0, k))
      }
    graft.engine.Par.all(rows.map { case (t, rs) =>
      val df = rs.map { case (cs, a, p, m, f) => (cs, a, p.toLong, m.toLong,
        f.toLong) }.toDF("cs_fips", "age_id", "pop", "pop_male", "pop_female")
      () => sink.writeFacts(t, df)
    }: _*)
    for ((t, want) <- rows) {
      val got = spark.read.jdbc(url, s"synth_par.$t", new java.util.Properties)
        .as[(String, Int, Int, Int, Int)].collect().toSeq.sorted
      assert(got == want.sorted, t)
    }
  }

  test("COPY linesReader streams lazily — no eager drain of the iterator") {
    var pulled = 0
    val lines = Iterator.continually { pulled += 1; "x" * 10 }.take(1000)
    val r = CopyFactSink.linesReader(lines)
    val buf = new Array[Char](8)
    assert(r.read(buf, 0, 8) == 8)
    assert(pulled == 1, s"reader drained $pulled lines for an 8-char read")
    // draining the rest yields every line + newline
    var total = 8
    var n = r.read(buf, 0, 8)
    while (n != -1) { total += n; n = r.read(buf, 0, 8) }
    assert(total == 1000 * 11 && pulled == 1000)
  }

  test("COPY TEXT encoding round-trips nulls, tabs, newlines, backslashes") {
    import org.apache.spark.sql.Row
    val row = Row("plain", "tab\there", "nl\nthere", "back\\slash",
      "cr\rreturn", null)
    val line = CopyFactSink.encodeRow(row)
    assert(!line.contains('\n') && !line.contains('\r'),
      "encoded line must not contain raw record/field terminators")
    assert(line.split("\t", -1).length == 6,
      "raw tabs in data must be escaped, not split fields")
    val back = line.split("\t", -1).toSeq.map(CopyFactSink.decodeField)
    assert(back == Seq(Some("plain"), Some("tab\there"), Some("nl\nthere"),
      Some("back\\slash"), Some("cr\rreturn"), None))
  }

  /** In-memory [[MongoResourceSink]]: the connector write is replaced by
    * a recording map honoring overwrite/append, so the reset→overwrite-
    * once-per-collection→append bookkeeping (bundle.go:111-124 semantics)
    * runs for real against real DataFrames.
    */
  private class RecordingMongoSink extends MongoResourceSink(
    "mongodb://unused", "fhir") {
    val db = scala.collection.mutable.Map[String, Seq[String]]()
    val calls = scala.collection.mutable.Buffer[(String, String)]()
    var failOn: Set[String] = Set.empty
    override protected def writeCollection(
        resources: org.apache.spark.sql.DataFrame,
        collection: String, mode: String): Unit = {
      calls += ((collection, mode))
      if (failOn(collection))
        throw new RuntimeException(s"injected failure on $collection")
      val rows = resources.as[String].collect().toSeq
      db(collection) =
        if (mode == "overwrite") rows
        else db.getOrElse(collection, Seq.empty) ++ rows
    }
  }

  private def routed(rows: (String, String)*) =
    rows.toSeq.toDF("collection", "id")
      .select($"collection", struct($"id").as("resource"))

  test("MongoResourceSink reset→write→append bookkeeping across batches " +
    "(S5/S10 runtime semantics)") {
    val sink = new RecordingMongoSink
    sink.reset()
    // batch 1: both collections replaced (reset pending)
    sink.writeResources(routed(
      "patients" -> "p1", "patients" -> "p2", "conditions" -> "c1"))
    assert(sink.calls.toSeq ==
      Seq(("conditions", "overwrite"), ("patients", "overwrite")))
    // batch 2: seen collection appends; collection first appearing AFTER
    // the reset still gets its one overwrite
    sink.calls.clear()
    sink.writeResources(routed(
      "patients" -> "p3", "observations" -> "o1"))
    assert(sink.calls.toSeq ==
      Seq(("observations", "overwrite"), ("patients", "append")))
    assert(sink.db("patients") == Seq("p1", "p2", "p3"))
    assert(sink.db("conditions") == Seq("c1"))
    assert(sink.db("observations") == Seq("o1"))
    // a later reset arms the replace again
    sink.reset()
    sink.calls.clear()
    sink.writeResources(routed("patients" -> "p9"))
    assert(sink.calls.toSeq == Seq(("patients", "overwrite")))
    assert(sink.db("patients") == Seq("p9"))
  }

  test("MongoResourceSink without reset appends from the first write, " +
    "like the reference without -reset") {
    val sink = new RecordingMongoSink
    sink.writeResources(routed("patients" -> "p1"))
    sink.writeResources(routed("patients" -> "p2"))
    assert(sink.calls.toSeq ==
      Seq(("patients", "append"), ("patients", "append")))
    assert(sink.db("patients") == Seq("p1", "p2"))
  }

  test("MongoResourceSink mid-batch failure marks nothing: the retry " +
    "overwrites again instead of appending duplicates") {
    val sink = new RecordingMongoSink
    sink.reset()
    // collections write in sorted order → conditions succeeds, then
    // patients fails: the whole call must stay unmarked
    sink.failOn = Set("patients")
    assertThrows[RuntimeException] {
      sink.writeResources(routed("conditions" -> "c1", "patients" -> "p1"))
    }
    sink.failOn = Set.empty
    sink.writeResources(routed("conditions" -> "c1", "patients" -> "p1"))
    // both re-ran as overwrite — no duplicate c1 from the half-done call
    assert(sink.db("conditions") == Seq("c1"))
    assert(sink.db("patients") == Seq("p1"))
    assert(sink.calls.toSeq == Seq(
      ("conditions", "overwrite"), ("patients", "overwrite"),
      ("conditions", "overwrite"), ("patients", "overwrite")))
  }

  test("MongoResourceSink real connector write (runtime-classpath path)") {
    // the connector jar is a deployment dependency (Sinks.scala scaladoc);
    // when present plus GRAFT_MONGO_URI, this exercises the real write
    val connectorPresent =
      try {
        Class.forName("com.mongodb.spark.sql.connector.MongoTableProvider")
        true
      } catch { case _: ClassNotFoundException => false }
    assume(connectorPresent,
      "MongoDB Spark connector not on the runtime classpath")
    val uri = sys.env.get("GRAFT_MONGO_URI")
    assume(uri.isDefined, "GRAFT_MONGO_URI not set")
    val sink = new MongoResourceSink(uri.get, "graft_test")
    sink.reset()
    sink.writeResources(routed("patients" -> "p1", "patients" -> "p2"))
    val back = spark.read.format("mongodb")
      .option("connection.uri", uri.get)
      .option("database", "graft_test")
      .option("collection", "patients").load()
    assert(back.count() == 2)
  }

  test("MongoRawstatStore real connector round-trip (runtime-classpath path)") {
    val connectorPresent =
      try {
        Class.forName("com.mongodb.spark.sql.connector.MongoTableProvider")
        true
      } catch { case _: ClassNotFoundException => false }
    assume(connectorPresent,
      "MongoDB Spark connector not on the runtime classpath")
    val uri = sys.env.get("GRAFT_MONGO_URI")
    assume(uri.isDefined, "GRAFT_MONGO_URI not set")
    import graft.fhir.Schemas.{ConditionCode, Location, RawStat}
    val store = new graft.fhir.MongoRawstatStore(uri.get, "graft_test")
    store.write(Seq(
      RawStat("p1", Location("25001", "2500100001", "Springfield", "01101"),
        "female", 1, 34, Some(false),
        Seq(ConditionCode("sct", "44054006", 1, 10)), Seq(1), Seq(10)),
      RawStat("p2", Location("", "", "Nowhere", "00000"),
        "male", 1, 65, None, Seq.empty, Seq.empty, Seq.empty)).toDF())
    val back = store.read(spark)
    assert(back.count() == 2)
    assert(back.select("patientid").as[String].collect().toSet ==
      Set("p1", "p2"))
  }

  test("T5: legacy cid: references resolve behind the flag") {
    // the same observation in a bundle keyed by fullUrl ("urn:uuid:p9") and
    // in one keyed by the bare id ("p9"): the cid path only hits when the
    // trimmed id IS a fullUrl — mirror of the reference's updateReference
    // (bundle.go:137-147), where refMap keys are bare ids in the legacy path
    def bundle(patientUrl: String) =
      s"""{"resourceType": "Bundle", "entry": [
         |{"fullUrl": "$patientUrl", "resource": {"resourceType": "Patient"}},
         |{"fullUrl": "urn:uuid:o9", "resource": {"resourceType": "Observation",
         |"subject": {"reference": "cid:p9"},
         |"basedOn": [{"reference": "cid:nope"}]}}]}""".stripMargin
    val bundles = Seq(("mem://urn", bundle("urn:uuid:p9")),
        ("mem://bare", bundle("p9")))
      .toDF("bundle_path", "json")
      .select($"bundle_path", from_json($"json", Schemas.bundle).as("b"))
      .select($"bundle_path", $"b.entry")
    def refs(legacyCid: Boolean): Map[String, (String, Seq[String])] =
      BundleIngest.rewriteBundle(bundles, legacyCid)
        .select($"bundle_path", explode($"entry").as("e"))
        .where($"e.resource.resourceType" === "Observation")
        .select($"bundle_path", $"e.resource.subject.reference",
          $"e.resource.basedOn.reference")
        .as[(String, String, Seq[String])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val patient = BundleIngest.rewriteBundle(bundles)
      .where($"bundle_path" === "mem://bare")
      .select(explode($"entry.resource.id")).as[String].head()
    assert(refs(legacyCid = true) == Map(
      "mem://urn" -> ("cid:p9", Seq("cid:nope")),
      "mem://bare" -> (s"Patient/$patient", Seq("cid:nope"))))
    assert(refs(legacyCid = false) == Map(
      "mem://urn" -> ("cid:p9", Seq("cid:nope")),
      "mem://bare" -> ("cid:p9", Seq("cid:nope"))))
  }
}
