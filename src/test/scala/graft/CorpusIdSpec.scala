package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.MetricsBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{CorpusId, GraftSession, Tables}
import graft.engine.Checkpoints.MaterializeOps
import graft.ext.{Dedup, Similarity}

/** The six at-rest families over two parquet corpora under one root,
  * shared by [[CorpusIdSpec]] and the JVM it forks.
  */
object CorpusIdFork {
  private val JobTag = "graft.corpusid.spec"

  def writeCorpora(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    (0 until 40).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.parquet(s"$root/emb")
    (0 until 12).map(i => (i.toLong, s"s${i % 2}",
      s"alpha beta gamma delta word$i other${i % 3} text"))
      .toDF("doc_id", "source", "text").coalesce(1)
      .write.parquet(s"$root/docs")
  }

  def docs(spark: SparkSession, root: String): DataFrame =
    Tables.parquet(spark, s"$root/docs")

  def filtered(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") > 3).select(col("doc_id"), upper(col("text")))

  /** Each family's ensure over the corpora: (name, rebuilt, jobs started). */
  def ensureAll(spark: SparkSession, root: String): Seq[(String, Boolean, Int)] = {
    val emb = Tables.parquet(spark, s"$root/emb")
    val d = docs(spark, root)
    val ensures = Seq[(String, () => Boolean)](
      "ensureIvfIndex" -> (() =>
        Similarity.ensureIvfIndex(emb, s"$root/ivf", nCentroids = 3)),
      "ensureKnnIndex" -> (() => Similarity.ensureKnnIndex(emb, s"$root/knn", 3)),
      "ensureDedupIndex" -> (() => Dedup.ensureDedupIndex(d, s"$root/dedup")),
      "ensureDedupIndexLsh" -> (() =>
        Dedup.ensureDedupIndexLsh(d, s"$root/lsh")),
      "ensureCdcIndex" -> (() => Dedup.ensureCdcIndex(d, s"$root/cdc")),
      "ensureShingleDfIndex" -> (() =>
        Dedup.ensureShingleDfIndex(d, s"$root/df")))
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(JobTag)))
          .foreach(started.add)
    }
    sc.addSparkListener(listener)
    try ensures.map { case (name, ensure) =>
      sc.setLocalProperty(JobTag, name)
      val rebuilt = try ensure() finally sc.setLocalProperty(JobTag, null)
      assert(MetricsBridge.drainListenerBus(sc, 30000))
      (name, rebuilt, started.asScala.count(_ == name))
    } finally sc.removeSparkListener(listener)
  }

  /** Ensures every family over the corpora under `args(0)`, then prints
    * one `ensure <name> <rebuilt> <jobs>` line per family and the
    * corpus identities of a plain read and a filtered projection.
    */
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = GraftSession.build("local[2]", "graft-corpusid-fork", 2)
    try {
      ensureAll(spark, root).foreach { case (n, rebuilt, jobs) =>
        println(s"ensure $n $rebuilt $jobs")
      }
      val d = docs(spark, root)
      println(s"id plain ${CorpusId.of(d).getOrElse("none")}")
      println(s"id filtered ${CorpusId.of(filtered(d)).getOrElse("none")}")
    } finally spark.stop()
  }
}

class CorpusIdSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): Path = Files.createTempDirectory("graft-corpusid")

  /** Runs [[CorpusIdFork]] in a new JVM over this JVM's class path and
    * module options; returns its stdout lines.
    */
  private def fork(root: String): Seq[String] = {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString,
      "-Xmx768m") ++ jvmArgs ++ Seq("-cp", sys.props("java.class.path"),
      "graft.CorpusIdFork", root)
    val err = Files.createTempFile("graft-corpusid-fork", ".log").toFile
    val p = new ProcessBuilder(cmd: _*)
      .redirectError(err)
      .redirectOutput(ProcessBuilder.Redirect.PIPE)
      .start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toVector
    val code = p.waitFor()
    assert(code == 0, s"forked JVM exited $code; stderr tail:\n" +
      Files.readAllLines(err.toPath).asScala.takeRight(40).mkString("\n"))
    out
  }

  test("an index written in one JVM is reused by the next: the six " +
      "families ensured again in a forked JVM rebuild nothing and start " +
      "no Spark job, and CorpusId reads the same there") {
    val root = tmp().resolve("c").toString
    CorpusIdFork.writeCorpora(spark, root)
    val first = CorpusIdFork.ensureAll(spark, root)
    assert(first.size == 6 && first.forall(_._2),
      s"the first ensure builds every family: $first")
    val out = fork(root)
    val ensures = out.filter(_.startsWith("ensure ")).map(_.split(' ').toSeq)
    assert(ensures.map(_(1)) == first.map(_._1), out.mkString("\n"))
    ensures.foreach { case Seq(_, name, rebuilt, jobs) =>
      assert(rebuilt == "false", s"$name rebuilt in the forked JVM")
      assert(jobs == "0", s"$name started $jobs Spark jobs in the forked JVM")
    }
    val d = CorpusIdFork.docs(spark, root)
    val ids = out.filter(_.startsWith("id ")).map(_.split(' ').toSeq)
      .map { case Seq(_, k, v) => k -> v }.toMap
    assert(ids.get("plain").contains(CorpusId.of(d).get))
    assert(ids.get("filtered").contains(
      CorpusId.of(CorpusIdFork.filtered(d)).get))
  }

  test("CorpusId follows the files and the plan above them") {
    import spark.implicits._
    val dir = tmp().toString
    def write(rows: Seq[(Long, String)], mode: String = "overwrite"): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode(mode).parquet(dir)
    def read() = Tables.parquet(spark, dir)
    write(Seq((1L, "a b c"), (2L, "d e f")))
    val v1 = CorpusId.of(read()).get
    assert(CorpusId.of(read()).contains(v1), "a second read of one file set")
    assert(v1.matches("[0-9a-f]{64}"))
    // the plan above the leaves
    val f1 = CorpusId.of(read().filter($"doc_id" > 1))
    assert(f1.nonEmpty && !f1.contains(v1))
    assert(CorpusId.of(read().filter($"doc_id" > 1)) == f1)
    assert(CorpusId.of(read().filter($"doc_id" > 2)) != f1, "a literal")
    assert(CorpusId.of(read().select($"text")) !=
      CorpusId.of(read().select($"doc_id")), "a projection")
    assert(CorpusId.of(read().select(upper($"text"))) !=
      CorpusId.of(read().select(lower($"text"))), "an expression")
    // the files: a rewrite with other rows, and an added file
    write(Seq((1L, "a b c"), (2L, "d e f g h")))
    val v2 = CorpusId.of(read()).get
    assert(v2 != v1, "rewritten files under the same path")
    write(Seq((3L, "x")), mode = "append")
    assert(!CorpusId.of(read()).contains(v2), "an added file")
  }

  test("CorpusId covers in-memory rows and lambda bodies, and a plan " +
      "over an RDD leaf or a closure has none") {
    import spark.implicits._
    def fix(x: Float) = Seq((0L, Seq(0.5f, x)), (1L, Seq(0.25f, 1f)))
      .toDF("vec_id", "embedding")
    assert(CorpusId.of(fix(1f)) == CorpusId.of(fix(1f)))
    assert(CorpusId.of(fix(1f)) != CorpusId.of(fix(2f)), "the rows")
    def scaled(k: Float) = fix(1f).withColumn("embedding",
      transform($"embedding", v => v * k))
    assert(CorpusId.of(scaled(2f)).nonEmpty)
    assert(CorpusId.of(scaled(2f)) == CorpusId.of(scaled(2f)),
      "two builds of one lambda plan")
    assert(CorpusId.of(scaled(2f)) != CorpusId.of(scaled(3f)))
    assert(CorpusId.of(fix(1f).materialized).isEmpty)
    assert(CorpusId.of(fix(1f).as[(Long, Seq[Float])].map(identity)
      .toDF()).isEmpty)
    assert(CorpusId.of(Seq(fix(1f), fix(1f).materialized)).isEmpty)
  }

  test("src/main computes semanticHash only in CorpusId, and no " +
      "ConcurrentHashMap is left under graft/ext") {
    def scalaFiles(dir: File): Seq[File] =
      Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Seq.empty
      }
    def offenders(root: File, word: String, allowed: String*): Seq[String] = {
      assert(root.isDirectory, s"sources not found under $root")
      scalaFiles(root).filterNot(f => allowed.contains(f.getName)).filter { f =>
        new String(Files.readAllBytes(f.toPath), "UTF-8").contains(word)
      }.map(_.getName)
    }
    val main = new File(sys.props("user.dir"), "src/main")
    assert(offenders(main, "semanticHash(", "CorpusId.scala").isEmpty,
      "derive corpus identity through graft.engine.CorpusId")
    val ext = new File(main, "scala/graft/ext")
    assert(offenders(ext, "ConcurrentHashMap").isEmpty,
      "memoize through graft.engine.Memo")
  }
}
