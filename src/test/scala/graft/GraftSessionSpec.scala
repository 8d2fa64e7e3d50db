package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftSession, Tables}
import graft.ext.PipelineMain
import graft.tools.GenCorpus

/** Every session the program builds goes through `GraftSession.build`,
  * and that session keeps its generated classes. The static confs
  * (bypass-merge threshold, `GraftExtensions`, the codegen class cache
  * size) can only be set on the builder, so a main that builds its own
  * session silently runs without them.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("src/main builds SparkSessions only in GraftSession") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    assert(builder.findFirstIn("SparkSession\n      .builder()").nonEmpty)
    // QueryProfile's SPARK_GRAFT_BUILD_CONF hook adds static confs to the
    // builder itself; it goes with the profiler (ROADMAP item 2)
    val allowed = Set(Paths.get("graft", "engine", "GraftSession.scala"),
      Paths.get("graft", "tools", "QueryProfile.scala"))
    val root = Paths.get(sys.props("user.dir"), "src/main/scala")
    assert(Files.isDirectory(root), s"main sources not found under $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val offenders = files.map(root.relativize).filterNot(allowed).filter { f =>
      builder.findFirstIn(
        new String(Files.readAllBytes(root.resolve(f)), "UTF-8")).nonEmpty
    }
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.build: ${offenders.mkString("; ")}")
  }

  test("missingStaticConfs names each static conf a SparkConf lacks") {
    val all = GraftSession.staticConfs.map { case (k, v) => s"$k=$v" }
    assert(GraftSession.missingStaticConfs(new SparkConf(false)) == all)
    val built = new SparkConf(false).setAll(GraftSession.staticConfs)
    assert(GraftSession.missingStaticConfs(built).isEmpty)
    // another extension list beside ours still has ours; another cache size
    // is not graft's
    val mixed = built.clone()
      .set("spark.sql.extensions", "other.Extensions, graft.engine.GraftExtensions")
      .set("spark.sql.codegen.cache.maxEntries", "100")
    assert(GraftSession.missingStaticConfs(mixed) ==
      Seq("spark.sql.codegen.cache.maxEntries=10000"))
    assert(GraftSession.missingStaticConfs(TestSpark.spark.sparkContext.getConf)
      .isEmpty)
  }

  test("a GraftSession.build session sizes the codegen class cache") {
    assert(TestSpark.spark.conf.get("spark.sql.codegen.cache.maxEntries")
      == "10000")
  }

  test("a warm PipelineMain.runFrames run reuses the previous run's " +
    "generated classes") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_codegen")
    (0 until 300).map(i => GenCorpus.doc(i.toLong, skew = true)).toDS()
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    (0 until 150).map(i => GenCorpus.vec(i.toLong, skew = true)).toDS()
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    def compilesOfRun(run: Int): Long = {
      graft.ext.Similarity.invalidateTrainedCentroids()
      graft.ext.Similarity.invalidateKnnEdges()
      graft.ext.Dedup.invalidateDedupArtifacts()
      graft.ext.TextAnalysis.invalidateEntropyCache()
      spark.catalog.clearCache()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      PipelineMain.runFrames(spark,
        Tables.load(spark, dir.toString, "documents"),
        Tables.load(spark, dir.toString, "embeddings"), s"$dir/out$run",
        scrubText = true, semDedup = true)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compilesOfRun(1)
    val second = compilesOfRun(2)
    info(s"generated-class compiles: first run $first, second run $second")
    // with Spark's default 100 entries the second run recompiles 119 of
    // the first run's 126 classes
    assert(second < 20,
      s"the second run compiled $second classes (first run: $first)")
  }
}
