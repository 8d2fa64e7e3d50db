package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.MetricsBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.fhir.{BundleIngest, ParquetRawstatStore, ParquetSink, RawStats}

/** [[Tables.parquet]] against `spark.read.parquet`: the same schema
  * (nullability and metadata included) and the same rows on every layout
  * the program reads, no schema-inference job, and no batch parquet read
  * in `src/main` that bypasses it.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  private def tmp(): Path = Files.createTempDirectory("graft-tables")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSame(paths: String*): Unit = {
    val ours = Tables.parquet(spark, paths: _*)
    val theirs = spark.read.parquet(paths: _*)
    assert(ours.schema == theirs.schema)
    assert(rows(ours) == rows(theirs))
  }

  private lazy val rewritten = BundleIngest.rewriteBundle(
    BundleIngest.readBundles(spark, getClass.getResource("/bundles").getPath))

  test("a Spark-written nested table: rawstat through ParquetRawstatStore") {
    val out = tmp().toString
    val cousub = RawStats.loadCousubDim(Seq(
      ("Springfield", "25001", "2500100001")).toDF("cs_name", "ct_fips", "cs_fips"))
    val disease = RawStats.loadDiseaseDim(Seq(
      ("http://snomed.info/sct", "44054006", 1, Option(10)))
      .toDF("code_system", "code", "condition_id", "disease_id"))
    val store = new ParquetRawstatStore(out)
    store.write(RawStats.build(rewritten, cousub, disease,
      lit("2020-01-01").cast("date")))
    val back = store.read(spark)
    val theirs = spark.read.parquet(s"$out/rawstat")
    assert(back.schema == theirs.schema)
    assert(back.schema.fields.exists(_.dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType]))
    assert(rows(back) == rows(theirs) && rows(back).nonEmpty)
  }

  test("partitioned directories: resources/collection=…, shards split=… " +
    "and an integer partition key") {
    val out = tmp().toString
    new ParquetSink(out).writeResources(BundleIngest.routeResources(rewritten))
    assert(Files.isDirectory(Paths.get(out, "resources", "collection=patients")))
    assertSame(s"$out/resources")

    val shards = s"${tmp()}/shards"
    spark.range(40).select(col("id").as("doc_id"),
        element_at(array(lit("train"), lit("val"), lit("test")),
          (col("id") % 3 + 1).cast("int")).as("split"),
        (col("id") % 4).as("bucket"))
      .write.partitionBy("split", "bucket").parquet(shards)
    assertSame(shards)
  }

  test("a multi-path union takes the first file by path, as inference does") {
    val root = tmp()
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    spark.range(5).select(col("id"), lit("x").as("s")).write.parquet(a)
    spark.range(5, 9).select(col("id"), lit("y").as("s"), lit(1.5).as("extra"))
      .write.parquet(b)
    // argument order does not decide: a's file sorts first, so `extra`
    // is not in the schema either way
    assertSame(b, a)
    assertSame(a, b)
    assert(!Tables.parquet(spark, b, a).columns.contains("extra"))
  }

  test("every sf0.01 testdata table, events read with nanosAsLong") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (name <- Tables.all) {
      val p = s"$sf/$name.parquet"
      withClue(name) {
        assertSame(p)
        assert(Tables.parquetSchema(spark, p) == spark.read.parquet(p).schema)
      }
    }
    assert(Tables.load(spark, sf, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("a directory holding _SUCCESS and .crc files; a _metadata summary " +
    "file wins over the data files") {
    val dir = tmp().resolve("t")
    spark.range(10).select(col("id"), (col("id") * 2).as("v"))
      .write.parquet(dir.toString)
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assertSame(dir.toString)

    val other = tmp().resolve("o")
    spark.range(1).select(col("id"), lit("s").as("w")).coalesce(1)
      .write.parquet(other.toString)
    val summary = Files.list(other).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(summary, dir.resolve("_metadata"))
    assertSame(dir.toString)
    assert(Tables.parquet(spark, dir.toString).columns.toSeq == Seq("id", "w"))
  }

  test("a footer with required fields: every column nullable, as the " +
    "relation exposes it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary name (UTF8); optional double v; }")
    val file = tmp().resolve("required.parquet").toString
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    try (0 until 3).foreach { i =>
      writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("id", i.toLong).append("name", s"n$i").append("v", i * 0.5))
    } finally writer.close()
    assertSame(file)
    assert(Tables.parquetSchema(spark, file) == spark.read.parquet(file).schema)
    assert(Tables.parquetSchema(spark, file).forall(_.nullable))
  }

  test("an empty directory and a missing path raise spark.read.parquet's " +
    "error condition") {
    val empty = tmp().toString
    val missing = s"$empty/nothing-here"
    for (p <- Seq(empty, missing)) {
      val ours = intercept[AnalysisException](Tables.parquet(spark, p))
      val theirs = intercept[AnalysisException](spark.read.parquet(p))
      assert(ours.getCondition == theirs.getCondition)
    }
  }

  test("Tables.parquet starts no Spark job on a single-file or a " +
    "partitioned table; spark.read.parquet starts one") {
    val sc = spark.sparkContext
    val key = "graft.tables.spec"
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(started.add)
    }
    def jobs(tag: String)(body: => Any): Int = {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, null)
      assert(MetricsBridge.drainListenerBus(sc, 30000))
      started.asScala.count(_ == tag)
    }
    val p = s"$sf/orders.parquet"
    val parts = tmp().resolve("parts").toString
    spark.range(8).select(col("id"), (col("id") % 2).as("k"))
      .write.partitionBy("k").parquet(parts)
    sc.addSparkListener(listener)
    try {
      assert(jobs("spark")(spark.read.parquet(p)) == 1)
      assert(jobs("tables")(Tables.parquet(spark, p)) == 0)
      assert(jobs("schema")(Tables.parquetSchema(spark, p)) == 0)
      assert(jobs("partitioned")(Tables.parquet(spark, parts)) == 0)
    } finally sc.removeSparkListener(listener)
  }

  test("src/main has no batch parquet read outside graft/engine/Tables.scala") {
    val batchRead = ("""\bread\b(?:\s*\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\))*""" +
      """\s*\.\s*(?:parquet\s*\(|format\s*\(\s*"parquet"\s*\))""").r
    assert(batchRead.findFirstIn("spark.read.parquet(p)").nonEmpty)
    assert(batchRead.findFirstIn(
      "spark.read\n  .option(\"a\", \"b\")\n  .parquet(p)").nonEmpty)
    assert(batchRead.findFirstIn("s.read.format(\"parquet\").load(p)").nonEmpty)
    assert(batchRead.findFirstIn("spark.readStream.schema(s).parquet(d)").isEmpty)

    val root = Paths.get(sys.props("user.dir"), "src/main")
    assert(Files.isDirectory(root), s"main sources not found under $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val offenders = files
      .filterNot(_.endsWith(Paths.get("graft", "engine", "Tables.scala")))
      .flatMap { f =>
        val text = new String(Files.readAllBytes(f), "UTF-8")
        batchRead.findAllMatchIn(text).map(m => s"${root.relativize(f)}: ${m.matched}")
      }
    assert(offenders.isEmpty,
      s"read parquet through graft.engine.Tables.parquet: ${offenders.mkString("; ")}")
  }
}
