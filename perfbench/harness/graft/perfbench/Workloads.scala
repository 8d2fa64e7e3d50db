package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Verify
import graft.engine.{Spread, Tables}
import graft.engine.Checkpoints.MaterializeOps
import graft.ext.{Export, PipelineMain, Similarity, TextAnalysis}
import graft.fhir.{BundleIngest, FactJobs, FhirMain, ParquetRawstatStore,
  ParquetSink, RawStats}
import graft.queries.CoreQueries
import graft.tools.{GenBundles, GenCorpus}

import BenchMain._

/** The paper's job: `FhirMain.run` over the bundles and dims in `data`. */
object FhirIngest extends TwoWarmUpJobs {
  val records = 200
  val Shards = 16
  val AsOf = "2024-01-01"
  private val Snomed = "http://snomed.info/sct"

  /** Bundles `lo .. lo + records - 1` of `GenBundles.bundleJson` for a
    * seed-chosen `lo`, sharded into subdirectories, three files the reader
    * must skip, and dims covering the five cities and five SNOMED codes
    * the bundles draw from: two city names carry the `' Town'` suffix the
    * loader strips, one code has a NULL `disease_id` (the -999 sentinel),
    * one code is listed under another code system so every patient with
    * it misses the join, one row matches no bundle, and two codes share a
    * disease id. */
  def makeInputs(ctx: Ctx, dir: Path): Unit = {
    val lo = (ctx.seed % 100000) * records
    val bundles = dir.resolve("bundles")
    (lo until lo + records).foreach { i =>
      val shard = Files.createDirectories(bundles.resolve(s"shard${i % Shards}"))
      Files.writeString(shard.resolve(s"b$i.json"), GenBundles.bundleJson(i))
    }
    val whole = GenBundles.bundleJson(lo)
    val bad = bundles.resolve("shard0")
    Files.writeString(bad.resolve("bad-truncated.json"), whole.take(whole.length / 2))
    Files.writeString(bad.resolve("bad-text.json"), "not a bundle\n")
    Files.writeString(bad.resolve("bad-noentry.json"),
      """{"resourceType": "Bundle", "type": "transaction"}""")

    val spark = ctx.spark
    def table(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(dir.resolve(name).toString)
    table("cousub.parquet", StructType(Seq("cs_name", "ct_fips", "cs_fips")
        .map(StructField(_, StringType))), Seq(
      Row("Springfield", "25013", "2501367000"),
      Row("Shelbyville Town", "25017", "2501761000"),
      Row("Ogden", "25003", "2500347000"),
      Row("Agawam Town", "25013", "2501300840"),
      Row("Quincy", "25021", "2502155745")))
    table("disease.parquet", StructType(Seq(
        StructField("code_system", StringType), StructField("code", StringType),
        StructField("condition_id", IntegerType),
        StructField("disease_id", IntegerType))), Seq(
      Row(Snomed, "44054006", 1, 10),
      Row(Snomed, "38341003", 2, 20),
      Row(Snomed, "195662009", 3, null),
      Row(Snomed, "10509002", 4, 10),
      Row("http://hl7.org/fhir/sid/icd-10", "271737000", 5, 50),
      Row(Snomed, "73211009", 6, 60)))
  }

  def job(ctx: Ctx, out: Path, traced: Boolean): Unit = {
    val bundles = ctx.data.resolve("bundles").toString
    val cousub = ctx.data.resolve("cousub.parquet").toString
    val disease = ctx.data.resolve("disease.parquet").toString
    if (!traced)
      FhirMain.run(ctx.spark, bundles, out.toString, Some(cousub), Some(disease),
        AsOf, reset = true)
    else tracedJob(ctx, bundles, cousub, disease, out)
  }

  /** `FhirMain.run` with the parquet sinks, its calls grouped into spans. */
  private def tracedJob(ctx: Ctx, path: String, cousub: String, disease: String,
      out: Path): Unit = {
    val spark = ctx.spark
    val parquet = new ParquetSink(out.toString)
    val store = new ParquetRawstatStore(out.toString)
    parquet.clearFactTables(Seq(
      "synth_pop_facts", "synth_disease_facts", "synth_condition_facts"))
    parquet.reset()
    val cousubDim = RawStats.loadCousubDim(spark.read.parquet(cousub))
    val diseaseDim = RawStats.loadDiseaseDim(spark.read.parquet(disease))

    val (bundles, n) = ctx.span("fhir.scan_rewrite") {
      val b = BundleIngest.rewriteBundle(BundleIngest.readBundles(spark, path)).cache()
      (b, b.count())
    }
    ctx.span("fhir.route_write") {
      val routed = BundleIngest.routeResources(bundles).persist()
      parquet.writeResources(routed)
      routed.unpersist()
    }
    val resources = dataFiles(out.resolve("resources"))
    ctx.extras("fhir.route_write.files_out") = resources.size
    ctx.extras("fhir.route_write.bytes_out") = resources.map(Files.size).sum
    ctx.span("fhir.rawstat") {
      store.write(RawStats.build(
        bundles, cousubDim, diseaseDim, lit(AsOf).cast("date")))
    }
    ctx.extras("fhir.rawstat.files_out") = dataFiles(out.resolve("rawstat")).size
    ctx.span("fhir.facts") {
      val rawstatBack = store.read(spark)
      parquet.writeFacts("synth_pop_facts", FactJobs.populationFacts(rawstatBack))
      parquet.writeFacts("synth_disease_facts", FactJobs.diseaseFacts(rawstatBack))
      parquet.writeFacts("synth_condition_facts", FactJobs.conditionFacts(rawstatBack))
    }
    bundles.unpersist()
    val seen = dataFiles(Paths.get(path)).count(_.toString.endsWith(".json"))
    ctx.extras("fhir.bundles_skipped") = seen - n
  }
}

/** `PipelineMain.runFrames` with scrub and semantic dedup on, over the
  * documents and embeddings in `data`. */
object CorpusPipeline extends TwoWarmUpJobs {
  val records = 1000
  val Vecs = 500

  /** Skew-mode `GenCorpus` rows `lo .. lo + n - 1` for a seed-chosen `lo`,
    * renumbered from 0: the pipeline's k-means starts from the vectors
    * with the lowest ids, so ids must start at 0 whatever the seed. */
  def makeInputs(ctx: Ctx, dir: Path): Unit = {
    import ctx.spark.implicits._
    val lo = (ctx.seed % 100000).toLong * records
    (0 until records).map(k => GenCorpus.doc(lo + k, skew = true).copy(doc_id = k))
      .toDS().coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    (0 until Vecs).map(k => GenCorpus.vec(lo + k, skew = true).copy(vec_id = k))
      .toDS().coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
  }

  def job(ctx: Ctx, out: Path, traced: Boolean): Unit = {
    val dir = ctx.data.toString
    val raw = Tables.load(ctx.spark, dir, "documents")
    val emb = Tables.load(ctx.spark, dir, "embeddings")
    if (!traced)
      PipelineMain.runFrames(ctx.spark, raw, emb, out.toString,
        scrubText = true, semDedup = true)
    else tracedJob(ctx, raw, emb, out)
  }

  /** `PipelineMain.runFrames(scrubText = true, semDedup = true)`, its
    * calls grouped into spans. */
  private def tracedJob(ctx: Ctx, raw: DataFrame, emb: DataFrame, out: Path): Unit = {
    val docs = ctx.span("ext.scrub") {
      Spread.cpuHeavy(raw).withColumn("text", TextAnalysis.scrub(col("text")))
        .materialized
    }
    // the survivor embeddings are the export decision's semi-join, so
    // their materialization counts to the export span
    val (decided, survivingEmb) = ctx.span("ext.export") {
      val decided = Export.trainingExport(docs, emb).materialized
      val surviving = emb.join(decided.select(col("doc_id")),
        emb("vec_id") === col("doc_id"), "left_semi").materialized
      (decided, surviving)
    }
    val centroids = ctx.span("ext.centroids") {
      Similarity.trainCentroidsKeyed(survivingEmb,
        "pipeline-semdedup:scrub=true", Seq(raw, emb),
        nCentroids = Similarity.adaptiveCellCount(survivingEmb))
    }
    ctx.span("ext.semdedup") {
      decided.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .join(
          Similarity.semanticDedup(survivingEmb, threshold = 0.4,
            centroids = centroids)
            .select(col("vec_id").as("doc_id"), col("is_rep").as("sem_rep")),
          Seq("doc_id"), "left")
        .filter(coalesce(col("sem_rep"), lit(true)))
        .drop("sem_rep")
        .write.mode("overwrite").partitionBy("split")
        .parquet(s"$out/shards")
    }
    // runFrames' closing counts belong to the manifest step
    ctx.span("ext.manifest") {
      val written = ctx.spark.read.parquet(s"$out/shards")
      Export.shardManifest(written)
        .write.mode("overwrite").parquet(s"$out/manifest")
      (written.count(), raw.count())
    }
  }

  /** Writes the oracle SQL the check runs on the same corpus, then runs
    * the two warm-up jobs. */
  override def warmUp(ctx: Ctx, out: Path): Unit = {
    write(out.resolveSibling("oracle_sql.json"),
      Map("x43_pipeline" -> graft.queries.ExtQueries.oracleSql("x43_pipeline")))
    super.warmUp(ctx, out)
  }
}

/** One pass over [[CoreQueriesPass.Names]] over the star-schema tables
  * `perfbench/tables.py` wrote to `data`. Each query's rows are fully
  * materialized (`queryExecution.toRdd.count()`), in an order the seed
  * permutes. */
object CoreQueriesPass extends Workload {
  /** The `CoreQueries` that call the `graft.ops` functions the FHIR job
    * also calls through `RawStats` and `CoreOps.factRollup` (`oneHot`,
    * `dimJoin`, `stripSuffix`, `sentinel`, `distinctSorted`, `explodeGt0`,
    * `ageYears`, `absentOrFalse`), so the layer is measured as reads here
    * and beside writes in [[FhirIngest]]. */
  val Names = Seq(
    "q01_filter_onehot_agg", "q02_dim_join_default", "q03_suffix_strip",
    "q04_sentinel_coalesce", "q05_collect_dedup", "q06_unwind_refilter",
    "q07_age_years", "q09_tristate_filter")
  def records: Int = Names.size
  /** A pass is short and host noise moves single passes by a fifth, so
    * the median is over five. */
  override def minJobs: Int = 5

  def makeInputs(ctx: Ctx, dir: Path): Unit =
    sys.error(s"no tables at ${ctx.data}: perfbench/tables.py makes them")

  def job(ctx: Ctx, out: Path, traced: Boolean): Unit = {
    def step[T](name: String)(body: => T): T =
      if (traced) ctx.span(name)(body) else body
    val walls = mutable.ArrayBuffer.empty[Double]
    val rows = mutable.LinkedHashMap.empty[String, Long]
    new scala.util.Random(ctx.seed).shuffle(Names).foreach { name =>
      val t0 = System.nanoTime()
      // building the DataFrame analyses it; both count as planning
      val df = step("queries.plan") {
        val df = CoreQueries.queries(name)(ctx.spark, ctx.data.toString)
        df.queryExecution.executedPlan
        df
      }
      rows(name) = step("queries.exec")(df.queryExecution.toRdd.count())
      walls += (System.nanoTime() - t0) / 1e9
    }
    ctx.extras("query_s") = walls.toSeq
    ctx.extras("rows") = rows.toMap
  }

  /** One pass that writes each query's result and oracle SQL under
    * `check` beside `out`, as `graft.Verify` does for the whole suite, for
    * the output check, then three passes as timed: pass times still fall
    * by a quarter from the second pass to the fifth. */
  def warmUp(ctx: Ctx, out: Path): Unit = {
    Verify.dump(ctx.spark, ctx.data.toString, out.resolveSibling("check").toString,
      Names.map(n => n -> CoreQueries.queries(n)),
      Names.map(n => n -> CoreQueries.oracleSql(n)))
    (0 until 3).foreach { i =>
      clearMemos(ctx.spark)
      job(ctx, out.resolve(s"job-$i"), traced = false)
    }
  }
}
