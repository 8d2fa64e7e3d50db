package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** The JVM side of `perfbench/run.py`.
  *
  *   BenchMain workload=W seed=N data=DIR out=DIR seconds=S trace=0|1 launched=EPOCH
  *
  * Sets up a Spark session (`launched` is the epoch second at which the
  * caller started this JVM), makes the seed's inputs under `data` unless
  * the caller made them, runs the workload's untimed warm-up, then runs
  * jobs for `seconds`, at least the workload's `minJobs` of them. With `trace=1` half
  * the jobs are traced: they run the same program calls as an untraced
  * job, grouped into spans. Writes `out/result.json` and `out/spans.json`,
  * and each job's outputs under `out/jobs/job-N`.
  */
object BenchMain {
  val Slots = 4

  final class Ctx(val spark: SparkSession, val tracer: Tracer, val data: Path,
      val seed: Int) {
    var run = -1
    /** Values a job adds beside its spans, such as file counts. */
    val extras = mutable.LinkedHashMap.empty[String, Any]
    def span[T](name: String)(body: => T): T = tracer.span(name, run)(body)
  }

  trait Workload {
    /** Input records one job processes. */
    def records: Int
    /** Timed jobs a run makes at least. Three, so that one slow job cannot
      * move the median. */
    def minJobs: Int = 3
    /** Makes the seed's inputs in the empty directory `dir`. */
    def makeInputs(ctx: Ctx, dir: Path): Unit
    /** Untimed work before the timed jobs, counted in `setup_s`. */
    def warmUp(ctx: Ctx, out: Path): Unit
    /** Runs one job writing under `out`. */
    def job(ctx: Ctx, out: Path, traced: Boolean): Unit
  }

  /** Warm-up of a workload whose jobs stay slow for a while in a fresh
    * JVM: on 4 cores the JIT keeps compiling for about ten jobs, and a
    * job's time falls by a third over the first four. Running two jobs
    * takes the cold job and the steepest part of that fall out of the
    * timed jobs. */
  trait TwoWarmUpJobs extends Workload {
    def warmUp(ctx: Ctx, out: Path): Unit = (0 until 2).foreach { i =>
      clearMemos(ctx.spark)
      job(ctx, out.resolve(s"job-$i"), traced = false)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      a.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => sys.error(s"expected key=value, got '$a'")
      }
    }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing $k="))
    val workload: Workload = opt("workload") match {
      case "fhir_ingest" => FhirIngest
      case "corpus_pipeline" => CorpusPipeline
      case "core_queries" => CoreQueriesPass
      case other => sys.error(s"unknown workload '$other'")
    }
    val out = Paths.get(opt("out"))

    val spark = graft.engine.GraftSession.build(
      master = s"local[$Slots]", appName = "perfbench", shufflePartitions = Slots)
    try {
      val meter = new Meter
      spark.sparkContext.addSparkListener(meter)
      spark.sessionState
      val sessionS = epochSeconds() - opt("launched").toDouble
      val ctx = new Ctx(spark, new Tracer(spark.sparkContext), Paths.get(opt("data")),
        opt("seed").toInt)
      val inputS = timed(if (!Files.exists(ctx.data)) {
        Files.createDirectories(ctx.data)
        workload.makeInputs(ctx, ctx.data)
      })
      val warmUpS = timed(workload.warmUp(ctx, out.resolve("warmup")))
      meter.take(spark.sparkContext)
      val jobs = timedJobs(ctx, workload, meter, out, opt("seconds").toDouble,
        opt("trace") == "1")
      write(out.resolve("spans.json"), ctx.tracer.spans.map(_.toJson))
      write(out.resolve("result.json"), Map(
        "records" -> workload.records, "session_s" -> sessionS,
        "inputs_s" -> inputS, "warmup_s" -> warmUpS,
        "peak_rss_mb" -> JvmStats.peakRssMb, "jobs" -> jobs))
    } finally spark.stop()
  }

  private def timedJobs(ctx: Ctx, w: Workload, meter: Meter, out: Path,
      seconds: Double, trace: Boolean): Seq[Map[String, Any]] = {
    val sc = ctx.spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
    // traced: at least two jobs of each kind
    val minJobs = if (trace) 4 else w.minJobs
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (jobs.size < minJobs || System.nanoTime() < deadline) {
      ctx.run = jobs.size
      // a traced run orders its jobs untraced, traced, traced, untraced, ...
      // so that the speed-up of later jobs (JIT) cancels out of the
      // tracing overhead, the difference of the two kinds' medians
      val traced = trace && (ctx.run % 4 == 1 || ctx.run % 4 == 2)
      clearMemos(ctx.spark)
      ctx.extras.clear()
      val jobOut = out.resolve("jobs").resolve(s"job-${ctx.run}")
      val gc0 = JvmStats.gcMs
      val jit0 = JvmStats.jitMs
      val t0 = System.nanoTime()
      val error =
        try { ctx.span("job")(w.job(ctx, jobOut, traced)); None }
        catch { case e: Throwable => Some(describe(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val accs = meter.take(sc)
      val spanNames = accs.keySet ++
        ctx.tracer.spans.filter(_.run == ctx.run).map(_.name)
      jobs += Map(
        "run" -> ctx.run, "traced" -> traced, "ok" -> error.isEmpty,
        "error" -> error, "out" -> jobOut.toString, "wall_s" -> wall,
        "cpu_s" -> accs.values.map(_.cpuNs).sum / 1e9,
        "tasks" -> accs.values.map(_.tasks).sum,
        "task_retries" -> accs.values.map(_.retries).sum,
        "spill_mb" -> accs.values.map(_.spillBytes).sum / 1048576.0,
        "gc_s" -> (JvmStats.gcMs - gc0) / 1e3, "jit_s" -> (JvmStats.jitMs - jit0) / 1e3,
        "spans" -> spanNames.map { name =>
          name -> (accs.getOrElse(name, new meter.Acc).toJson +
            ("wall_s" -> ctx.tracer.wall(name, ctx.run)))
        }.toMap,
        "extras" -> ctx.extras.toMap)
    }
    jobs.toSeq
  }

  /** Drops every session memo of the program and Spark's cache. */
  def clearMemos(spark: SparkSession): Unit = {
    graft.ext.Similarity.invalidateTrainedCentroids()
    graft.ext.Similarity.invalidateKnnEdges()
    graft.ext.Dedup.invalidateDedupArtifacts()
    graft.ext.TextAnalysis.invalidateEntropyCache()
    spark.catalog.clearCache()
  }

  def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(c => s"${c.getClass.getName}: ${c.getMessage}").take(4)
      .mkString(" <- ").take(2000)

  def epochSeconds(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  def timed(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: Path, value: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, json.writeValueAsString(value))
  }

  /** Data files under `dir` (Spark's markers and checksums excluded). */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator().asScala.toSeq.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }
}
