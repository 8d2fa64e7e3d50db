package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.Event

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(min * 60000L)

  test("dedupIndexStream seeds the at-rest LSH index on batch 0, " +
      "extends it per micro-batch, and the final labeling equals the " +
      "full-corpus clustering") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Dedup
    val corpusDir = Files.createTempDirectory("graft-stream-corpus")
      .toString
    val indexPath = Files.createTempDirectory("graft-stream-index")
      .toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val src = MemoryStream[(Long, String, String)]
    val q = Streams.dedupIndexStream(
      src.toDF().toDF("doc_id", "source", "text"),
      corpusDir, indexPath, ckpt)
    // batch 0 seeds; the near-dups STRADDLE batch boundaries on purpose
    src.addData((1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta gamma delta epsilon eta"),
      (3L, "s2", "totally different text entirely other words here"))
    q.processAllAvailable()
    // batch 1 extends with a dup of 1/2 and a dup of 3
    src.addData((10L, "s1", "alpha beta gamma delta epsilon theta"),
      (11L, "s2", "totally different text entirely other words also"))
    q.processAllAvailable()
    // batch 2 extends again — chained extension, never base x base
    src.addData((12L, "s2", "an unrelated singleton document body"))
    q.processAllAvailable()
    q.stop()
    val all = spark.read.parquet(s"$corpusDir/b0", s"$corpusDir/b1",
      s"$corpusDir/b2")
    val streamed = Dedup.readDedupClusters(all, indexPath)
      .collect().map(_.toString).sorted.toSeq
    val batch = Dedup
      .dedupClusters(all, Dedup.jaccardPairsIndexHashed(all, 3, 0.5))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
    // cross-batch pairs were actually found (1-2 with 10, 3 with 11)
    val pairs = Dedup.readDedupPairs(spark, indexPath)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.exists { case (a, b, _) => a < 10 && b >= 10 })
    // the shingle-df sidecar rode along: one shard per batch (seed +
    // 2 extensions — extended, never rebuilt), stamped to cover the
    // flat landed union (a fresh extend over the same union no-ops),
    // and its merged dfs equal the from-scratch corpus relation
    val dfDir = new java.io.File(s"$indexPath/_dfindex/df")
    assert(dfDir.isDirectory)
    val sidecar = Dedup.readShingleDf(spark, s"$indexPath/_dfindex")
      .as[(String, Long)].collect().toMap
    val scratch = Dedup.shingled(all, 3)
      .select(explode(col("sg")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect().toMap
    assert(sidecar == scratch && scratch.nonEmpty)
    assert(!Dedup.extendShingleDfIndex(
      spark.read.parquet(s"$corpusDir/b0", s"$corpusDir/b1"),
      spark.read.parquet(s"$corpusDir/b2"), s"$indexPath/_dfindex",
      unionView = Some(all)),
      "sidecar stamp must already cover the landed union")
    // self-compaction: drive one more landed batch through the
    // recovery step with a 1-shard budget — the sidecar compacts to
    // the pre-merged relation, values unchanged, stamp still covering
    val b3 = s"$corpusDir/b3"
    Seq((13L, "s2", "yet another fresh singleton document body"))
      .toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(b3)
    Streams.dedupIndexBatch(spark, corpusDir, b3, None, indexPath,
      dfMaxShards = 1)
    val all4 = spark.read.parquet(s"$corpusDir/b0", s"$corpusDir/b1",
      s"$corpusDir/b2", b3)
    val merged4 = Dedup.readShingleDf(spark, s"$indexPath/_dfindex")
      .as[(String, Long)].collect().toMap
    val scratch4 = Dedup.shingled(all4, 3)
      .select(explode(col("sg")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect().toMap
    assert(merged4 == scratch4)
    // post-compaction the raw relation is pre-merged: 1 row/shingle
    assert(spark.read.parquet(s"$indexPath/_dfindex/df").count()
      == merged4.size)
    assert(!Dedup.extendShingleDfIndex(
      spark.read.parquet(s"$corpusDir/b0", s"$corpusDir/b1",
        s"$corpusDir/b2"),
      spark.read.parquet(b3), s"$indexPath/_dfindex",
      unionView = Some(all4)),
      "compaction must preserve the union stamp")
  }

  test("dedupIndexStream over 20 micro-batches keeps the stamped base " +
      "plan constant-depth (a flat read over the landed dirs matches " +
      "the at-rest stamp) and still equals full-batch clustering") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Dedup
    val corpusDir = Files.createTempDirectory("graft-stream-c20").toString
    val indexPath = Files.createTempDirectory("graft-stream-i20").toString
    val ckpt = Files.createTempDirectory("graft-stream-k20").toString
    val src = MemoryStream[(Long, String, String)]
    val q = Streams.dedupIndexStream(
      src.toDF().toDF("doc_id", "source", "text"),
      corpusDir, indexPath, ckpt)
    (0 until 20).foreach { i =>
      // every third doc is a near-dup of doc 0's template so pairs
      // keep straddling batch boundaries through the whole run
      val text =
        if (i % 3 == 0) s"alpha beta gamma delta epsilon token$i"
        else s"unique words nr$i only here body content tail$i"
      src.addData((i.toLong, "s", text))
      q.processAllAvailable()
    }
    q.stop()
    val dirs = Streams.landedBatchDirs(spark, corpusDir)
    assert(dirs.size == 20)
    val all = spark.read.parquet(dirs: _*)
    // THE constant-depth invariant: after 20 incremental extensions the
    // at-rest stamp must match an ensure over a FLAT read of the landed
    // corpus — a plan whose analyzed node count is independent of batch
    // count — i.e. ensure finds nothing to rebuild. Under the old
    // chained base.union(landed) lineage the stamp hashed a 20-deep
    // union and this ensure would re-run the whole build.
    assert(!Dedup.ensureDedupIndexLsh(all, indexPath),
      "flat-read ensure must match the streamed stamp (no rebuild)")
    val streamed = Dedup.readDedupClusters(all, indexPath)
      .collect().map(_.toString).sorted.toSeq
    val batch = Dedup
      .dedupClusters(all, Dedup.jaccardPairsIndexHashed(all, 3, 0.5))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("dedupIndexStream restart: the first batch of a restarted query " +
      "seeds over EVERY landed batch dir, so earlier batches never " +
      "drop out of the index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Dedup
    val corpusDir = Files.createTempDirectory("graft-stream-cr").toString
    val indexPath = Files.createTempDirectory("graft-stream-ir").toString
    val ck1 = Files.createTempDirectory("graft-stream-kr1").toString
    val src1 = MemoryStream[(Long, String, String)]
    val q1 = Streams.dedupIndexStream(
      src1.toDF().toDF("doc_id", "source", "text"), corpusDir, indexPath,
      ck1)
    src1.addData((1L, "s", "alpha beta gamma delta epsilon zeta"),
      (2L, "s", "alpha beta gamma delta epsilon eta"))
    q1.processAllAvailable()
    src1.addData((3L, "s", "totally different text entirely other words"))
    q1.processAllAvailable()
    q1.stop()
    // "restarted" query: fresh driver state, same corpus + index dirs.
    // Its batch ids restart at 0, so b0 is overwritten — what matters
    // is that b1 (NOT part of the new stream) stays in the index.
    // (A MemoryStream cannot resume a real checkpoint, so this restart
    // uses a FRESH one — which the corpus-owner claim rightly treats
    // as a different stream; transfer ownership explicitly, the
    // documented operator action.)
    val ck2 = Files.createTempDirectory("graft-stream-kr2").toString
    Streams.transferCorpusOwnership(spark, corpusDir, ck1, ck2)
    val src2 = MemoryStream[(Long, String, String)]
    val q2 = Streams.dedupIndexStream(
      src2.toDF().toDF("doc_id", "source", "text"), corpusDir, indexPath,
      ck2)
    src2.addData(
      (10L, "s", "totally different text entirely other words too"))
    q2.processAllAvailable()
    q2.stop()
    val all = spark.read
      .parquet(Streams.landedBatchDirs(spark, corpusDir): _*)
    // doc 3 (landed before the restart, absent from the new stream's
    // batches) must cluster with doc 10 — the pre-fix behavior rebuilt
    // over ONLY the restarted batch and under-labeled exactly this row
    val streamed = Dedup.readDedupClusters(all, indexPath)
      .collect().map(_.toString).sorted.toSeq
    val batch = Dedup
      .dedupClusters(all, Dedup.jaccardPairsIndexHashed(all, 3, 0.5))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
    val pairs = Dedup.readDedupPairs(spark, indexPath)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.exists { case (a, b, _) => a == 3L && b == 10L },
      s"restart seed must cover pre-restart batches: $pairs")
  }

  test("clean restart resumes INCREMENTALLY: the first post-restart " +
      "batch extends from the landed prefix — dedup keeps its at-rest " +
      "band files (append, not rewrite), kNN keeps its frozen " +
      "centroids (no re-train) — and labels still equal full-batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Dedup, Similarity}
    // --- dedup family ---
    val cDir = Files.createTempDirectory("graft-rec-c").toString
    val iDir = Files.createTempDirectory("graft-rec-i").toString
    val src = MemoryStream[(Long, String, String)]
    val q = Streams.dedupIndexStream(
      src.toDF().toDF("doc_id", "source", "text"), cDir, iDir,
      Files.createTempDirectory("graft-rec-k").toString)
    src.addData((1L, "s", "alpha beta gamma delta epsilon zeta"),
      (2L, "s", "alpha beta gamma delta epsilon eta"))
    q.processAllAvailable()
    src.addData((3L, "s", "totally different text entirely other words"))
    q.processAllAvailable()
    q.stop() // clean shutdown: stamp matches the flat read over b0,b1
    def bandFiles() = new java.io.File(s"$iDir/bands").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val bandsBefore = bandFiles()
    // the restarted query's first batch: land b2 by hand and drive the
    // recovery step directly (a MemoryStream restart would reuse batch
    // id 0 and clobber b0 — real checkpoint recovery continues ids)
    val b2 = s"$cDir/b2"
    Seq((10L, "s", "totally different text entirely other words too"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(b2)
    val landed = Streams.dedupIndexBatch(spark, cDir, b2, None, iDir)
    assert(landed.size == 3)
    // incremental resume: every pre-restart band file survives
    // untouched (extension APPENDS batch keys; a rebuild would have
    // rewritten the dir)
    assert(bandFiles().intersect(bandsBefore) == bandsBefore,
      "clean recovery must extend (append to bands), not rebuild")
    val all = spark.read.parquet(landed: _*)
    val streamed = Dedup.readDedupClusters(all, iDir)
      .collect().map(_.toString).sorted.toSeq
    val batch = Dedup
      .dedupClusters(all, Dedup.jaccardPairsIndexHashed(all, 3, 0.5))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
    // --- kNN family: recovery must NOT re-train ---
    val kc = Files.createTempDirectory("graft-rec-kc").toString
    val ki = Files.createTempDirectory("graft-rec-ki").toString
    val emb = (0 until 40).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
    val esrc = MemoryStream[(Long, Seq[Float])]
    val eq = Streams.knnIndexStream(
      esrc.toDF().toDF("vec_id", "embedding"), kc, ki,
      Files.createTempDirectory("graft-rec-kk").toString, k = 3,
      profile = graft.ext.IndexProfile.Exact)
    esrc.addData(emb.filter(_._1 < 30): _*)
    eq.processAllAvailable()
    eq.stop()
    val centsBefore = Similarity.readKnnCentroids(spark, ki)
      .collect().map(_.toString).sorted.toSeq
    val kb1 = s"$kc/b1"
    emb.filter(_._1 >= 30).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(kb1)
    Streams.knnIndexBatch(spark, kc, kb1, None, ki, k = 3,
      profile = graft.ext.IndexProfile.Exact)
    assert(Similarity.readKnnCentroids(spark, ki)
      .collect().map(_.toString).sorted.toSeq == centsBefore,
      "clean recovery must keep the frozen model — no re-train")
    val inc = Similarity.readKnnEdges(spark, ki)
      .as[(Long, Long, Long, Double)].collect().toSet
    val base0 = spark.read.parquet(s"$kc/b0")
    val baseCents = Similarity.trainCentroids(base0,
      Similarity.adaptiveCellCount(base0))
    val scratch = Similarity
      .cachedKnnEdges(spark.read.parquet(s"$kc/b0", kb1), baseCents, 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(inc == scratch && scratch.nonEmpty)
  }

  test("streaming index self-compaction: past the per-cell file budget " +
      "the maintenance step compacts over-budget cells in place — " +
      "values equal the frozen-model from-scratch build and later " +
      "batches keep extending under the preserved stamp") {
    import graft.ext.{IndexProfile, Similarity}
    def cellFiles(root: java.io.File): Map[String, Int] =
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val emb = (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
    def land(dir: String, lo: Int, hi: Int): String = {
      emb.filter(t => t._1 >= lo && t._1 < hi)
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(dir)
      dir
    }
    // --- IVF face (root cell= partitions accrete) ---
    val ic = Files.createTempDirectory("graft-sc-ic").toString
    val ii = Files.createTempDirectory("graft-sc-ii").toString
    var prev = Streams.ivfIndexBatch(spark, ic,
      land(s"$ic/b0", 0, 30), None, ii, nCentroids = 4,
      profile = IndexProfile.Exact, cellFileBudget = 1)
    prev = Streams.ivfIndexBatch(spark, ic,
      land(s"$ic/b1", 30, 45), Some(prev), ii, nCentroids = 4,
      profile = IndexProfile.Exact, cellFileBudget = 1)
    prev = Streams.ivfIndexBatch(spark, ic,
      land(s"$ic/b2", 45, 60), Some(prev), ii, nCentroids = 4,
      profile = IndexProfile.Exact, cellFileBudget = 1)
    val ivfCells = cellFiles(new java.io.File(ii))
    assert(ivfCells.nonEmpty && ivfCells.values.forall(_ == 1),
      s"every cell must sit at one file after the budgeted sweep: $ivfCells")
    // frozen-model semantics survive the sweeps: rows == batch-0-trained
    // assignment of the whole landed union
    val base0 = spark.read.parquet(s"$ic/b0")
    val union = spark.read.parquet(s"$ic/b0", s"$ic/b1", s"$ic/b2")
    val expected = Similarity
      .cellAssignments(union, Similarity.trainCentroids(base0, 4))
      .as[(Long, Long)].collect().toSet
    assert(spark.read.parquet(ii)
      .select($"cid", $"cell".cast("long"))
      .as[(Long, Long)].collect().toSet == expected && expected.nonEmpty)
    // --- kNN face (cells/ accretes; edges dynamic-overwritten) ---
    val nc = Files.createTempDirectory("graft-sc-nc").toString
    val ni = Files.createTempDirectory("graft-sc-ni").toString
    var kprev = Streams.knnIndexBatch(spark, nc,
      land(s"$nc/b0", 0, 30), None, ni, k = 3,
      profile = IndexProfile.Exact, cellFileBudget = 1)
    kprev = Streams.knnIndexBatch(spark, nc,
      land(s"$nc/b1", 30, 60), Some(kprev), ni, k = 3,
      profile = IndexProfile.Exact, cellFileBudget = 1)
    val knnCells = cellFiles(new java.io.File(ni, "cells"))
    assert(knnCells.nonEmpty && knnCells.values.forall(_ == 1),
      s"kNN member cells must compact to one file: $knnCells")
    val kbase = spark.read.parquet(s"$nc/b0")
    val kunion = spark.read.parquet(s"$nc/b0", s"$nc/b1")
    val kcents = Similarity.trainCentroids(kbase,
      Similarity.adaptiveCellCount(kbase))
    assert(Similarity.readKnnEdges(spark, ni)
      .as[(Long, Long, Long, Double)].collect().toSet ==
      Similarity.cachedKnnEdges(kunion, kcents, 3)
        .as[(Long, Long, Long, Double)].collect().toSet,
      "edges must equal the frozen-model from-scratch build after sweeps")
    assert(spark.read.parquet(s"$ni/cells").count() == kunion.count())
  }

  test("landed-corpus consolidation: past the dir budget the " +
      "maintenance step folds the b tail into one c dir and moves the " +
      "stamps — no re-train, no rebuild — the manifest commit hides " +
      "folded and orphaned dirs, and later batches keep extending over " +
      "the consolidated layout") {
    import graft.ext.{IndexProfile, Similarity}
    val kc = Files.createTempDirectory("graft-cons-kc").toString
    val ki = Files.createTempDirectory("graft-cons-ki").toString
    val emb = (0 until 80).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
    def land(i: Int): String = {
      val d = s"$kc/b$i"
      emb.filter(t => t._1 >= i * 10 && t._1 < (i + 1) * 10)
        .toDF("vec_id", "embedding").write.mode("overwrite").parquet(d)
      d
    }
    var prev: Option[Vector[String]] = None
    var centsAfterSeed: Seq[String] = Nil
    for (i <- 0 until 6) {
      prev = Some(Streams.knnIndexBatch(spark, kc, land(i), prev, ki,
        k = 3, profile = IndexProfile.Exact, maxLandedDirs = 3))
      if (i == 0)
        centsAfterSeed = Similarity.readKnnCentroids(spark, ki)
          .collect().map(_.toString).sorted.toSeq
    }
    // batch 3 tips the budget (4 dirs > 3): b0..b3 fold into c3; b4/b5
    // land afterwards — exactly one consolidation
    val manifest = Streams.readLandedManifest(spark, kc)
    assert(manifest.contains((3L, Vector("c3"))),
      s"manifest must commit the c3 fold: $manifest")
    val names = new java.io.File(kc).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(names.contains("c3") && names.contains("b4") &&
      names.contains("b5"))
    assert(!names.exists(_.matches("b[0-3]")),
      s"folded b dirs must be reclaimed: $names")
    // the threaded dir list equals a fresh listing — a restarted query
    // resumes over the identical consolidated layout
    assert(prev.contains(Streams.landedBatchDirs(spark, kc)))
    // every row survived the fold exactly once
    assert(spark.read.parquet(prev.get: _*).count() == 60)
    // the model is FROZEN through the consolidation: centroids are the
    // batch-0 seed's, bit-identical — a restamp, never a re-train
    assert(Similarity.readKnnCentroids(spark, ki)
      .collect().map(_.toString).sorted.toSeq == centsAfterSeed)
    // and the index kept EXTENDING after the fold: edges equal a
    // from-scratch frozen-model build over all 60 landed rows
    val all = emb.filter(_._1 < 60).toDF("vec_id", "embedding")
    val b0 = all.filter($"vec_id" < 10)
    val baseCents = Similarity.trainCentroids(b0,
      Similarity.adaptiveCellCount(b0))
    assert(Similarity.readKnnEdges(spark, ki)
      .as[(Long, Long, Long, Double)].collect().toSet ==
      Similarity.cachedKnnEdges(all, baseCents, 3)
        .as[(Long, Long, Long, Double)].collect().toSet)
    // the manifest is the one commit point: a crash-orphaned c dir and
    // a stale folded b dir are INVISIBLE to the listing
    assert(new java.io.File(kc, "c2").mkdir())
    assert(new java.io.File(kc, "b2").mkdir())
    assert(Streams.landedBatchDirs(spark, kc) == prev.get,
      "orphans outside the manifest must not enter the corpus")
    // RESTART over the consolidated layout: a fresh query (prev = None)
    // lists the manifest view and RESUMES incrementally — the next
    // batch extends under the restamped plan, the model stays frozen
    val d6 = land(6)
    Streams.knnIndexBatch(spark, kc, d6, None, ki, k = 3,
      profile = IndexProfile.Exact, maxLandedDirs = 10)
    assert(Similarity.readKnnCentroids(spark, ki)
      .collect().map(_.toString).sorted.toSeq == centsAfterSeed,
      "post-restart batch over the folded layout must extend, not re-train")
    assert(spark.read.parquet(
      Streams.landedBatchDirs(spark, kc): _*).count() == 70)
    // two-level fold: once the c list reaches its budget, EVERYTHING
    // folds into one dir — the manifest's c list is bounded at any
    // stream lifetime, and the model still survives (restamp chain)
    val folded = Streams.consolidateLanded(spark, kc,
      Streams.landedBatchDirs(spark, kc),
      (o, n) => graft.engine.AtRest.restamp(Similarity.KnnLayout, spark,
        ki)(Similarity.corpusPrefixRewrite(o, n)),
      maxConsolidated = 1)
    assert(folded.size == 1 && folded.head.split('/').last == "c6",
      s"full fold must leave one c dir: $folded")
    assert(Streams.readLandedManifest(spark, kc)
      .contains((6L, Vector("c6"))))
    assert(spark.read.parquet(folded: _*).count() == 70)
    // the index keeps extending over the fully-folded layout
    Streams.knnIndexBatch(spark, kc, land(7), None, ki, k = 3,
      profile = IndexProfile.Exact)
    assert(Similarity.readKnnCentroids(spark, ki)
      .collect().map(_.toString).sorted.toSeq == centsAfterSeed,
      "extension after a full fold must keep the frozen model")
    assert(spark.read.parquet(
      Streams.landedBatchDirs(spark, kc): _*).count() == 80)
    // two consolidations ran: the manifest is VERSIONED (the second
    // commit created a fresh `.seq` file before reclaiming the first —
    // there is never a no-manifest window for a reader to fall back to
    // the b-listing and lose folded rows), and exactly one committed
    // version survives
    val manifests = new java.io.File(kc).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("_graft_landed"))
      .map(_.getName).toSeq
    assert(manifests.size == 1 &&
      manifests.head.matches("_graft_landed\\.\\d+"),
      s"exactly one versioned manifest must survive: $manifests")
  }

  test("IVF refresh policy: a maintenance step whose post-extension " +
      "cell-load imbalance breaches its refreshImbalance threshold " +
      "RE-TRAINS over the landed union; None pins the frozen-forever " +
      "behavior; the measured default (8.0) must not fire below its " +
      "threshold") {
    import graft.ext.{IndexProfile, Similarity}
    // base: a spread ring (8 distinct cells); batches: many copies of
    // ONE direction — they pile into a single cell, the drift shape
    val ring = (0 until 80).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
    val pile = (100 until 180).map(i => (i.toLong,
      Seq(1.0f, 0.01f, 0.0f).map(_.toFloat)))
    // this test pins the THRESHOLD semantics on the synchronous route
    // (retrain visible immediately after the breaching batch); the
    // async default's serve-frozen/swap protocol has its own test
    def drive(cd: String, ix: String,
        thr: Option[Double] = Some(Similarity.refreshImbalanceDefault))
        : Seq[String] = {
      var prev: Option[Vector[String]] = None
      def land(id: Int, rows: Seq[(Long, Seq[Float])]): String = {
        val d = s"$cd/b$id"
        rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(d)
        d
      }
      prev = Some(Streams.ivfIndexBatch(spark, cd, land(0, ring), prev,
        ix, nCentroids = 8, profile = IndexProfile.Exact,
        refreshImbalance = thr, refreshAsync = false))
      val frozen = Similarity.readKnnCentroids(spark, ix)
        .collect().map(_.toString).sorted.toSeq
      prev = Some(Streams.ivfIndexBatch(spark, cd,
        land(1, pile), prev, ix, nCentroids = 8,
        profile = IndexProfile.Exact,
        refreshImbalance = thr, refreshAsync = false))
      frozen
    }
    // None: frozen model rides through the drifting batch no matter
    // what the imbalance reads — the explicit disable face
    val cd1 = Files.createTempDirectory("graft-refresh-c1").toString
    val ix1 = Files.createTempDirectory("graft-refresh-i1").toString
    val frozen1 = drive(cd1, ix1, thr = None)
    assert(Similarity.readKnnCentroids(spark, ix1)
      .collect().map(_.toString).sorted.toSeq == frozen1,
      "with the policy off the model must stay frozen")
    // the measured default (8.0). This drive's post-pile
    // imbalance sits UNDER it (~4.5: one 90-row cell over a 20-row
    // mean), so the default must not fire — a default that retrained
    // healthy indexes would be worse than no default
    val cd0 = Files.createTempDirectory("graft-refresh-c0").toString
    val ix0 = Files.createTempDirectory("graft-refresh-i0").toString
    val frozen0 = drive(cd0, ix0)
    val imb0 = Similarity.ivfCellLoadStats(spark, ix0)
      .select(col("imbalance")).head().getDouble(0)
    assert(imb0 < Similarity.refreshImbalanceDefault,
      s"fixture drift must sit under the default threshold: $imb0")
    assert(Similarity.readKnnCentroids(spark, ix0)
      .collect().map(_.toString).sorted.toSeq == frozen0,
      s"the default policy must not fire below its threshold ($imb0)")
    // set under the drift: the same drive re-trains when imbalance
    // breaches
    val cd2 = Files.createTempDirectory("graft-refresh-c2").toString
    val ix2 = Files.createTempDirectory("graft-refresh-i2").toString
    val frozen2 = drive(cd2, ix2, thr = Some(3.0))
    val imb = Similarity.ivfCellLoadStats(spark, ix2)
      .select(col("imbalance")).head().getDouble(0)
    assert(Similarity.readKnnCentroids(spark, ix2)
      .collect().map(_.toString).sorted.toSeq != frozen2,
      s"imbalance $imb over threshold must re-train the model")
  }

  test("IVF refresh futility guard: a policy retrain that cannot fix " +
      "the imbalance (intrinsic shape — one giant identical-vector " +
      "cluster) records where it bottomed out and the policy stands " +
      "down, instead of retraining over the growing union every " +
      "batch; a recorded level the current imbalance exceeds by the " +
      "slack re-arms the policy") {
    import graft.ext.{IndexProfile, Similarity}
    val cd = Files.createTempDirectory("graft-futile-c").toString
    val ix = Files.createTempDirectory("graft-futile-i").toString
    // base: 4 spread directions, 8 rows each; pile: IDENTICAL vectors
    // — k-means can never split identical points across cells, so the
    // pile cell's dominance is unfixable by retraining
    val base = (0 until 32).map(i => (i.toLong,
      Seq(math.cos(i % 4 * 1.57), math.sin(i % 4 * 1.57), 0.3)
        .map(_.toFloat)))
    def pile(lo: Int, n: Int) = (lo until lo + n).map(i =>
      (i.toLong, Seq(0.7f, 0.69f, 0.71f)))
    def land(id: Int, rows: Seq[(Long, Seq[Float])]): String = {
      val d = s"$cd/b$id"
      rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(d)
      d
    }
    def model(): Seq[String] = Similarity.readKnnCentroids(spark, ix)
      .collect().map(_.toString).sorted.toSeq
    val futileFile = new java.io.File(ix, "_graft_refresh_futile")
    // futility ARITHMETIC pinned on the sync route (deterministic
    // retrain timing); the async adoption path re-runs the same
    // bookkeeping and has its own test
    var prev: Option[Vector[String]] = None
    def step(dir: String): Unit =
      prev = Some(Streams.ivfIndexBatch(spark, cd, dir, prev, ix,
        nCentroids = 4, profile = IndexProfile.Exact,
        refreshImbalance = Some(2.0), refreshAsync = false))
    step(land(0, base))
    val seeded = model()
    // pile batch: imbalance breaches 2.0 → the policy retrains ONCE,
    // cannot fix it (identical vectors stay one cell), records the
    // bottomed-out level
    step(land(1, pile(100, 200)))
    val afterRetrain = model()
    assert(afterRetrain != seeded, "the first breach must retrain")
    val futile = Streams.refreshFutileLevel(spark, ix)
    assert(futile.isDefined && futileFile.isFile,
      "an unfixable breach must record the futile level")
    // more of the same shape: imbalance still over the threshold but
    // within slack of the recorded level → NO retrain (the guard)
    step(land(2, pile(400, 20)))
    assert(model() == afterRetrain,
      "within slack of the proven-futile level the policy must " +
        "stand down, not retrain every batch")
    // a stale LOW recorded level (as if the shape had been milder
    // when it tripped) re-arms the policy once the current imbalance
    // exceeds it by the slack — new drift on top of the shape
    val w = new java.io.FileWriter(futileFile)
    try w.write("1.0") finally w.close()
    step(land(3, pile(500, 20)))
    assert(model() != afterRetrain,
      "imbalance past the recorded level by the slack must re-attempt")
    assert(Streams.refreshFutileLevel(spark, ix).exists(_ > 1.0),
      "the re-attempt must refresh the recorded futile level")
  }

  test("async refresh (the r18 default): a breach launches the retrain " +
      "on a background thread — the breaching batch and every batch " +
      "until completion extend the FROZEN model and the index keeps " +
      "serving probes; the first step after completion catches up and " +
      "swaps; the post-swap index equals the synchronous retrain's") {
    import graft.ext.{IndexProfile, Similarity}
    // same drift fixture as the policy test: an 80-row ring seeds the
    // model, an 80-row pile drifts the loads past the threshold
    val ring = (0 until 80).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
    val pile = (100 until 180).map(i => (i.toLong,
      Seq(1.0f, 0.01f, 0.0f).map(_.toFloat)))
    val tail = (200 until 220).map(i => (i.toLong,
      Seq(0.2f, 0.9f, 0.1f).map(_.toFloat)))
    def land(cd: String, id: Int, rows: Seq[(Long, Seq[Float])]): String = {
      val d = s"$cd/b$id"
      rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(d)
      d
    }
    def model(ix: String): Seq[String] = Similarity
      .readKnnCentroids(spark, ix).collect().map(_.toString).sorted.toSeq
    def rows(ix: String): Seq[String] = spark.read.parquet(ix)
      .select(col("cid"), col("cell")).collect()
      .map(_.toString).sorted.toSeq
    // threshold 3.0 sits under the pile's drift, so both arms breach
    def step(cd: String, ix: String, prev: Option[Vector[String]],
        dir: String, async: Boolean) =
      Some(Streams.ivfIndexBatch(spark, cd, dir, prev, ix,
        nCentroids = 8, profile = IndexProfile.Exact,
        refreshImbalance = Some(3.0), refreshAsync = async))
    // ---- sync arm: the comparison oracle ----
    val cdS = Files.createTempDirectory("graft-async-cs").toString
    val ixS = Files.createTempDirectory("graft-async-is").toString
    var prevS: Option[Vector[String]] = None
    prevS = step(cdS, ixS, prevS, land(cdS, 0, ring), async = false)
    prevS = step(cdS, ixS, prevS, land(cdS, 1, pile), async = false)
    val syncModelAfterBreach = model(ixS)
    prevS = step(cdS, ixS, prevS, land(cdS, 2, tail), async = false)
    // ---- async arm (the default) ----
    val cdA = Files.createTempDirectory("graft-async-ca").toString
    val ixA = Files.createTempDirectory("graft-async-ia").toString
    var prevA: Option[Vector[String]] = None
    prevA = step(cdA, ixA, prevA, land(cdA, 0, ring), async = true)
    val frozen = model(ixA)
    prevA = step(cdA, ixA, prevA, land(cdA, 1, pile), async = true)
    // the breaching batch returns with the FROZEN model still live —
    // the retrain is in flight, not on the hot path
    assert(model(ixA) == frozen,
      "the breaching batch must serve the frozen model (async)")
    // serving continuity: the live index answers probes mid-retrain
    val q = ring.take(3).toDF("vec_id", "embedding")
    assert(Similarity.topKIvfIndexed(ixA, q, k = 3, nprobe = 2)
      .count() > 0, "the frozen index must keep serving probes")
    assert(Streams.awaitIvfRetrain(ixA),
      "the background retrain must complete")
    // still frozen: adoption happens on the NEXT maintenance step
    assert(model(ixA) == frozen,
      "completion alone must not mutate the live index")
    prevA = step(cdA, ixA, prevA, land(cdA, 2, tail), async = true)
    // adopted: the swapped-in model is the sync arm's retrained one
    assert(model(ixA) == syncModelAfterBreach,
      "the post-swap model must equal the synchronous retrain's")
    assert(rows(ixA) == rows(ixS),
      "the post-swap index rows must equal the synchronous arm's")
    // the side/retired dirs are gone after a clean swap
    assert(!new java.io.File(ixA.stripSuffix("/") + "_retrain").exists())
    assert(!new java.io.File(ixA.stripSuffix("/") + "_retired").exists())
  }

  test("async refresh futility: an async retrain that cannot fix an " +
      "intrinsic shape records the futile level AT ADOPTION and the " +
      "policy stands down — no relaunch while one is in flight, no " +
      "retrain loop afterwards") {
    import graft.ext.{IndexProfile, Similarity}
    val cd = Files.createTempDirectory("graft-afutile-c").toString
    val ix = Files.createTempDirectory("graft-afutile-i").toString
    val base = (0 until 32).map(i => (i.toLong,
      Seq(math.cos(i % 4 * 1.57), math.sin(i % 4 * 1.57), 0.3)
        .map(_.toFloat)))
    def pile(lo: Int, n: Int) = (lo until lo + n).map(i =>
      (i.toLong, Seq(0.7f, 0.69f, 0.71f)))
    def land(id: Int, rows: Seq[(Long, Seq[Float])]): String = {
      val d = s"$cd/b$id"
      rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(d)
      d
    }
    def model(): Seq[String] = Similarity.readKnnCentroids(spark, ix)
      .collect().map(_.toString).sorted.toSeq
    var prev: Option[Vector[String]] = None
    def step(dir: String): Unit =
      prev = Some(Streams.ivfIndexBatch(spark, cd, dir, prev, ix,
        nCentroids = 4, profile = IndexProfile.Exact,
        refreshImbalance = Some(2.0)))
    step(land(0, base))
    // identical-vector pile: breach launches the async retrain
    step(land(1, pile(100, 200)))
    assert(Streams.awaitIvfRetrain(ix))
    // adoption step: swap lands, the still-broken imbalance records
    // the futile level
    step(land(2, pile(400, 20)))
    assert(Streams.refreshFutileLevel(spark, ix).isDefined,
      "an unfixable async retrain must record the futile level at " +
        "adoption")
    val adopted = model()
    // more of the same shape: the policy stands down — no new
    // retrain in flight, model unchanged
    step(land(3, pile(500, 20)))
    assert(!Streams.retrainInFlight(ix),
      "within slack of the futile level no retrain may launch")
    assert(model() == adopted, "stand-down must keep the model")
  }

test("corpus ownership: one landed corpus dir belongs to one stream " +
      "checkpoint — a restart re-claims, a second stream is refused " +
      "fail-fast at start, before any b<id> can collide") {
    val dir = Files.createTempDirectory("graft-owner").toString
    val ck1 = Files.createTempDirectory("graft-owner-ck1").toString
    val ck2 = Files.createTempDirectory("graft-owner-ck2").toString
    Streams.claimCorpusOwner(spark, dir, ck1)
    // restart: the same checkpoint re-claims its own corpus
    Streams.claimCorpusOwner(spark, dir, ck1)
    val e = intercept[IllegalStateException] {
      Streams.claimCorpusOwner(spark, dir, ck2)
    }
    assert(e.getMessage.contains("owned by the stream checkpointed at"))
    // the streaming faces claim BEFORE start(): a second stream over an
    // owned corpus throws synchronously — no query starts, no batch lands
    val src = spark.readStream.format("rate").load()
      .selectExpr("value as doc_id", "'s' as source",
        "cast(value as string) as text")
    intercept[IllegalStateException] {
      Streams.dedupIndexStream(src, dir,
        Files.createTempDirectory("graft-owner-ix").toString, ck2)
    }
    assert(!new java.io.File(dir).listFiles()
      .exists(f => f.isDirectory && f.getName.matches("b\\d+")),
      "the refused stream must never land a batch")
  }

  test("corpus ownership, torn claims: a YOUNG empty owner file is an " +
      "in-flight concurrent claim and is refused (the TOCTOU guard); " +
      "an empty file older than the grace is a crashed claim and is " +
      "reclaimed; a claimer whose file gets yanked mid-claim refuses " +
      "rather than running unowned") {
    val dir = Files.createTempDirectory("graft-torn").toString
    val ck = Files.createTempDirectory("graft-torn-ck").toString
    val owner = new java.io.File(dir, "_graft_owner")
    // keep the settle wait short so the refusal path doesn't stall the
    // suite; leave the grace at its 60 s default for the young case
    def claim(): Unit =
      Streams.claimCorpusOwner(spark, dir, ck, settleMs = 200)
    // young empty file = a concurrent claimer between create and
    // write: deleting it here would let two streams co-own the
    // corpus, so the late arriver must refuse
    assert(owner.createNewFile())
    val e = intercept[IllegalStateException](claim())
    assert(e.getMessage.contains("reclaim grace"),
      s"young empty claim must refuse as in-flight: ${e.getMessage}")
    // the same file past the grace age is a TORN claim (crash in the
    // create→write window) — reclaimed, not refused forever
    assert(owner.setLastModified(
      System.currentTimeMillis() - 120 * 1000L))
    claim()
    assert(new String(java.nio.file.Files.readAllBytes(owner.toPath))
      == Streams.ownerIdentity(spark, ck),
      "the reclaimed file must carry the new owner's identity")
    // and the claim is now a plain restart re-claim
    claim()
  }

  test("corpus ownership grace: a non-numeric or negative " +
      "spark.graft.corpus.ownerGraceMs is refused with an error that " +
      "names the key, before any owner file is written") {
    val dir = Files.createTempDirectory("graft-grace").toString
    val ck = Files.createTempDirectory("graft-grace-ck").toString
    val key = "spark.graft.corpus.ownerGraceMs"
    try {
      for (bad <- Seq("soon", "-1", "")) {
        spark.conf.set(key, bad)
        val e = intercept[IllegalArgumentException] {
          Streams.claimCorpusOwner(spark, dir, ck)
        }
        assert(e.getMessage.contains(key),
          s"the error must name the key: ${e.getMessage}")
        assert(!new java.io.File(dir, "_graft_owner").exists(),
          "a refused setting must not leave an owner file behind")
      }
      // zero is a valid (reclaim-at-once) grace
      spark.conf.set(key, "0")
      Streams.claimCorpusOwner(spark, dir, ck)
    } finally spark.conf.unset(key)
  }

  test("corpus ownership transfer: validated handover succeeds, a " +
      "stale claimant is refused, a retry after the owner==to state " +
      "is idempotent, and a mid-transfer crash (no owner file) leaves " +
      "a claimable corpus") {
    val dir = Files.createTempDirectory("graft-transfer").toString
    val ck1 = Files.createTempDirectory("graft-transfer-ck1").toString
    val ck2 = Files.createTempDirectory("graft-transfer-ck2").toString
    val ck3 = Files.createTempDirectory("graft-transfer-ck3").toString
    Streams.claimCorpusOwner(spark, dir, ck1)
    // validated handover: ck1 → ck2
    Streams.transferCorpusOwnership(spark, dir, ck1, ck2)
    Streams.claimCorpusOwner(spark, dir, ck2) // new owner re-claims
    intercept[IllegalStateException] {
      Streams.claimCorpusOwner(spark, dir, ck1) // old owner refused
    }
    // stale claimant: ck1 no longer owns the corpus, so it cannot
    // transfer it to ck3
    val e = intercept[IllegalStateException] {
      Streams.transferCorpusOwnership(spark, dir, ck1, ck3)
    }
    assert(e.getMessage.contains("stale claimant"), e.getMessage)
    // retrying a transfer that already landed is a no-op, not an error
    Streams.transferCorpusOwnership(spark, dir, ck1, ck2)
    // mid-transfer crash window: between delete and create there is NO
    // owner file — the corpus must be claimable, never corrupt
    assert(new java.io.File(dir, "_graft_owner").delete())
    Streams.claimCorpusOwner(spark, dir, ck3)
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "_graft_owner").toPath))
      == Streams.ownerIdentity(spark, ck3))
  }

  test("owner identity is qualified against the checkpoint's own " +
      "filesystem and URI-normalized, so equivalent spellings of the " +
      "same location re-claim instead of refusing a legitimate restart") {
    val dir = Files.createTempDirectory("graft-ident").toString
    val ck = Files.createTempDirectory("graft-ident-ck").toString
    Streams.claimCorpusOwner(spark, dir, ck)
    // same location, different spellings: an explicit file: scheme and
    // a redundant /./ segment must both resolve to the recorded owner
    Streams.claimCorpusOwner(spark, dir, s"file:$ck")
    val parent = ck.substring(0, ck.lastIndexOf('/'))
    val base = ck.substring(ck.lastIndexOf('/') + 1)
    Streams.claimCorpusOwner(spark, dir, s"$parent/./$base")
  }

  test("legacy owner-file spelling (pre-r18 Hadoop Path.toString form, " +
      "'file:/x'): a restart of the SAME stream is accepted and the " +
      "file is rewritten to the explicit-authority form; a transfer " +
      "whose `from` matches only in the legacy form is honored; a " +
      "DIFFERENT stream is still refused") {
    val dir = Files.createTempDirectory("graft-legacy").toString
    val ck = Files.createTempDirectory("graft-legacy-ck").toString
    val ck2 = Files.createTempDirectory("graft-legacy-ck2").toString
    val me = Streams.ownerIdentity(spark, ck)
    assert(me.startsWith("file:///"), s"test precondition: $me")
    // what the pre-r18 code wrote: Path.toString form, single slash
    val legacy = "file:" + me.stripPrefix("file://")
    assert(legacy.startsWith("file:/") && !legacy.startsWith("file://"))
    val owner = new java.io.File(dir, "_graft_owner")
    // write through the Hadoop FS, exactly as the pre-r18 code did —
    // a raw NIO write would leave a stale ChecksumFileSystem .crc
    // behind on later rewrites and fail the read as an IOException
    def writeOwner(s: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, "_graft_owner")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    writeOwner(legacy)
    // a different stream must still refuse against the legacy form
    intercept[IllegalStateException] {
      Streams.claimCorpusOwner(spark, dir, ck2)
    }
    // the rightful stream's restart is accepted — and upgrades the
    // stored spelling so later comparisons are exact
    Streams.claimCorpusOwner(spark, dir, ck)
    assert(new String(java.nio.file.Files.readAllBytes(owner.toPath))
      == me, "a legacy-form match must rewrite the file to the " +
        "explicit-authority form")
    // transfer with a legacy-form stored owner: rewrite back to legacy
    // and hand over from ck — the transferor matches via normalization
    writeOwner(legacy)
    Streams.transferCorpusOwnership(spark, dir, ck, ck2)
    Streams.claimCorpusOwner(spark, dir, ck2)
  }

  test("manifest versioning: readers take the highest committed seq, " +
      "the legacy bare name reads as seq 0, and tmp files are ignored") {
    val dir = Files.createTempDirectory("graft-manifest").toString
    def write(name: String, body: String): Unit = {
      val w = new java.io.FileWriter(new java.io.File(dir, name))
      try w.write(body) finally w.close()
    }
    assert(Streams.readLandedManifest(spark, dir).isEmpty)
    // legacy layout: the bare name still reads
    write("_graft_landed", "upTo=3\nc3")
    assert(Streams.readLandedManifest(spark, dir)
      .contains((3L, Vector("c3"))))
    // a higher committed seq supersedes it; an uncommitted tmp never
    // reads (a crash mid-write leaves only a tmp — the prior commit
    // stays visible)
    write("_graft_landed.2", "upTo=5\nc3\nc5")
    write("_graft_landed.3.tmp", "upTo=9\nc9")
    assert(Streams.readLandedManifest(spark, dir)
      .contains((5L, Vector("c3", "c5"))))
  }

  test("landed-corpus consolidation, dedup face: the LSH index AND its " +
      "df sidecar restamp through the fold — the next batch EXTENDS " +
      "(pre-fold band shards survive byte-identical, never a rebuild) " +
      "and labels still equal full-batch clustering") {
    import graft.ext.Dedup
    val dc = Files.createTempDirectory("graft-cons-dc").toString
    val di = Files.createTempDirectory("graft-cons-di").toString
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta gamma delta epsilon eta"),
      (3L, "s2", "totally different text entirely other words here"),
      (4L, "s1", "alpha beta gamma delta epsilon theta"),
      (5L, "s2", "totally different text entirely other words also"),
      (6L, "s2", "an unrelated singleton document body of words"),
      (7L, "s1", "alpha beta gamma delta epsilon iota"),
      (8L, "s2", "one more unrelated body of words to land late"))
    def land(i: Int): String = {
      val d = s"$dc/b$i"
      docs.filter(t => t._1 > i * 2 && t._1 <= (i + 1) * 2)
        .toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(d)
      d
    }
    var prev: Option[Vector[String]] = None
    for (i <- 0 until 3) // 3 dirs > budget 2 at batch 2 → fold to c2
      prev = Some(Streams.dedupIndexBatch(spark, dc, land(i), prev, di,
        maxLandedDirs = 2))
    assert(Streams.readLandedManifest(spark, dc)
      .contains((2L, Vector("c2"))))
    def bandFiles(): Set[(String, Long, Long)] =
      new java.io.File(di, "bands").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val bandsAfterFold = bandFiles()
    // one more batch over the consolidated layout: must EXTEND —
    // every pre-fold band shard survives byte-identical (a rebuild,
    // the restamp-failure fallback, would rewrite them all)
    prev = Some(Streams.dedupIndexBatch(spark, dc, land(3), prev, di,
      maxLandedDirs = 2))
    assert(bandFiles().intersect(bandsAfterFold) == bandsAfterFold,
      "post-fold batch must extend the restamped index, not rebuild it")
    val all = docs.toDF("doc_id", "source", "text")
    assert(Dedup.readDedupClusters(all, di)
      .collect().map(_.toString).sorted.toSeq ==
      Dedup.dedupClusters(all,
        Dedup.jaccardPairsLshAuto(all, 3, 0.5))
        .collect().map(_.toString).sorted.toSeq)
  }

  test("knnIndexStream seeds on batch 0 and extends with the frozen " +
      "base model: 3-batch stream edges equal a from-scratch cell-local " +
      "build over the union with the batch-0-trained centroids; an " +
      "ensure over the union re-trains (model drift)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Similarity
    val corpusDir = Files.createTempDirectory("graft-stream-knc").toString
    val indexPath = Files.createTempDirectory("graft-stream-kni").toString
    val all = (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
    val src = MemoryStream[(Long, Seq[Float])]
    val q = Streams.knnIndexStream(
      src.toDF().toDF("vec_id", "embedding"), corpusDir, indexPath,
      Files.createTempDirectory("graft-stream-knk").toString, k = 3,
      profile = graft.ext.IndexProfile.Exact)
    src.addData(all.filter(_._1 < 30): _*)
    q.processAllAvailable()
    src.addData(all.filter(t => t._1 >= 30 && t._1 < 45): _*)
    q.processAllAvailable()
    src.addData(all.filter(_._1 >= 45): _*)
    q.processAllAvailable()
    q.stop()
    val dirs = Streams.landedBatchDirs(spark, corpusDir)
    assert(dirs.size == 3)
    val union = spark.read.parquet(dirs: _*)
    // frozen-model semantics: the streamed edges equal a from-scratch
    // cell-local build over the union ASSIGNED WITH THE BATCH-0-TRAINED
    // centroids (extensions never re-train)
    val base = spark.read.parquet(dirs.head)
    val baseCents = Similarity.trainCentroids(base,
      Similarity.adaptiveCellCount(base))
    val inc = Similarity.readKnnEdges(spark, indexPath)
      .as[(Long, Long, Long, Double)].collect().toSet
    val scratch = Similarity.cachedKnnEdges(union, baseCents, 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(inc == scratch && scratch.nonEmpty)
    assert(spark.read.parquet(s"$indexPath/cells").count() == 60)
    // the flat-read stamp invariant, kNN flavor: an extend whose base
    // is the flat landed corpus minus nothing new no-ops — and model
    // refresh stays an OFFLINE ensure, which detects the drifted model
    // term and re-trains
    assert(Similarity.ensureKnnIndex(union, indexPath, k = 3),
      "ensure over the streamed union must re-train the model")
  }

  test("knnIndexStream with the Production profile seeds sampled+coarse " +
      "and extends through the same assignment function: 3-batch stream " +
      "edges equal a from-scratch production build over the union with " +
      "the batch-0-sampled centroids") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{IndexProfile, Similarity}
    val corpusDir = Files.createTempDirectory("graft-stream-pkc").toString
    val indexPath = Files.createTempDirectory("graft-stream-pki").toString
    val all = (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
    val src = MemoryStream[(Long, Seq[Float])]
    val q = Streams.knnIndexStream(
      src.toDF().toDF("vec_id", "embedding"), corpusDir, indexPath,
      Files.createTempDirectory("graft-stream-pkk").toString, k = 3,
      profile = IndexProfile.Production())
    src.addData(all.filter(_._1 < 30): _*)
    q.processAllAvailable()
    src.addData(all.filter(t => t._1 >= 30 && t._1 < 45): _*)
    q.processAllAvailable()
    src.addData(all.filter(_._1 >= 45): _*)
    q.processAllAvailable()
    q.stop()
    val dirs = Streams.landedBatchDirs(spark, corpusDir)
    assert(dirs.size == 3)
    // frozen-model semantics under the PRODUCTION profile: the seed
    // trains SAMPLED Lloyd over batch 0 and every vector — base at
    // seed time, batches at extension time — is assigned through the
    // same two-level coarse argmax, a pure function of (vector,
    // centroid set); so the streamed edges equal a from-scratch
    // production build over the union with the batch-0 model
    val base = spark.read.parquet(dirs.head)
    val kCells = Similarity.adaptiveCellCount(base)
    val cents = Similarity.trainCentroidsSampled(base, kCells,
      maxTrainRows = 50 * kCells)
    val union = spark.read.parquet(dirs: _*)
    val inc = Similarity.readKnnEdges(spark, indexPath)
      .as[(Long, Long, Long, Double)].collect().toSet
    val scratch = Similarity
      .knnEdges(Similarity.assignCellsCoarse(union, cents), 3)
      .select(col("cid"), col("cell"), col("nid"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(inc == scratch && scratch.nonEmpty)
    assert(spark.read.parquet(s"$indexPath/cells").count() == 60)
  }

  test("the streaming faces DEFAULT to the Production profile: a seed " +
      "with no profile argument stamps the sampled route (a caller who " +
      "forgets `profile =` can no longer seed the quadratic exact path " +
      "at stream start or on a torn-prefix rebuild)") {
    import graft.engine.AtRest
    val kc = Files.createTempDirectory("graft-dflt-kc").toString
    val ki = Files.createTempDirectory("graft-dflt-ki").toString
    val ii = Files.createTempDirectory("graft-dflt-ii").toString
    (0 until 30).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$kc/b0")
    Streams.knnIndexBatch(spark, kc, s"$kc/b0", None, ki, k = 3)
    assert(AtRest.readStamp(spark, ki, "_graft_knn_meta")
      .exists(_.contains(":sampled-50-0-1")),
      "default kNN seed must take the sampled production route")
    Streams.ivfIndexBatch(spark, kc, s"$kc/b0", None, ii, nCentroids = 4)
    assert(AtRest.readStamp(spark, ii, "_graft_ivf_meta")
      .exists(_.contains(":sampled-50-0-1")),
      "default IVF seed must take the sampled production route")
  }

  test("a micro-batch colliding with an offline writer's lease " +
      "SURVIVES: bounded retry then skip (the refused step mutates " +
      "nothing), and the next trigger repairs coverage without ever " +
      "double-extending") {
    import graft.ext.{IndexProfile, Similarity}
    val kc = Files.createTempDirectory("graft-lease-kc").toString
    val ki = Files.createTempDirectory("graft-lease-ki").toString
    val all = (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
    def land(dir: String, lo: Int, hi: Int): Unit =
      all.filter(t => t._1 >= lo && t._1 < hi)
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(dir)
    def step(newDir: String, prev: Option[Vector[String]],
        retries: Int): Vector[String] =
      Streams.indexMaintenanceBatch(spark, kc, newDir, prev,
        Seq(Streams.Maintained(Similarity.knnFamily(3,
          profile = IndexProfile.Production()), ki, Streams.CellFileBudget)),
        leaseRetries = retries, leaseBackoffMs = 50)
    land(s"$kc/b0", 0, 30)
    val l0 = step(s"$kc/b0", None, 0)
    val edges0 = Similarity.readKnnEdges(spark, ki)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(edges0.nonEmpty)
    // an offline writer holds a FRESH lease while batch 1's step runs:
    // the step must retry, then SKIP — never throw, never mutate
    land(s"$kc/b1", 30, 45)
    val lease = new java.io.File(ki, "_graft_knn_meta.lease")
    assert(lease.createNewFile())
    val l1 = step(s"$kc/b1", Some(l0), 1)
    assert(l1.size == 2, "the landed list still advances")
    assert(Similarity.readKnnEdges(spark, ki)
      .as[(Long, Long, Long, Double)].collect().toSet == edges0,
      "a refused step must leave the index byte-identical")
    // the offline writer finishes; the NEXT trigger's extend sees a
    // stamp covering neither its base (b0∪b1) nor the union and falls
    // through to the rebuild-over-landed-corpus arm — coverage
    // repaired, never double-extended
    assert(lease.delete())
    land(s"$kc/b2", 45, 60)
    val l2 = step(s"$kc/b2", Some(l1), 3)
    assert(l2.size == 3)
    assert(spark.read.parquet(s"$ki/cells").count() == 60,
      "exactly one cell row per vector — no double extension")
    val union = spark.read.parquet(l2: _*)
    val kCells = Similarity.adaptiveCellCount(union)
    val cents = Similarity.trainCentroidsSampled(union, kCells,
      maxTrainRows = 50 * kCells)
    val scratch = Similarity
      .knnEdges(Similarity.assignCellsCoarse(union, cents), 3)
      .select($"cid", $"cell", $"nid", $"cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(Similarity.readKnnEdges(spark, ki)
      .as[(Long, Long, Long, Double)].collect().toSet == scratch &&
      scratch.nonEmpty,
      "the repair rebuild equals a from-scratch production build")
  }

  test("ivfIndexStream seeds on batch 0 and appends per batch under " +
      "the frozen model: at-rest rows equal the batch-0-trained " +
      "assignment of the union; an ensure over the union re-trains") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Similarity
    val corpusDir = Files.createTempDirectory("graft-stream-ivc").toString
    val indexPath = Files.createTempDirectory("graft-stream-ivi").toString
    val all = (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
    val src = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ivfIndexStream(
      src.toDF().toDF("vec_id", "embedding"), corpusDir, indexPath,
      Files.createTempDirectory("graft-stream-ivk").toString,
      nCentroids = 4, profile = graft.ext.IndexProfile.Exact)
    src.addData(all.filter(_._1 < 30): _*)
    q.processAllAvailable()
    src.addData(all.filter(t => t._1 >= 30 && t._1 < 45): _*)
    q.processAllAvailable()
    src.addData(all.filter(_._1 >= 45): _*)
    q.processAllAvailable()
    q.stop()
    val dirs = Streams.landedBatchDirs(spark, corpusDir)
    assert(dirs.size == 3)
    val union = spark.read.parquet(dirs: _*)
    val base = spark.read.parquet(dirs.head)
    val baseCents = Similarity.trainCentroids(base, 4)
    val expected = Similarity.cellAssignments(union, baseCents)
      .as[(Long, Long)].collect().toSet
    val atRest = spark.read.parquet(indexPath)
      .select($"cid", $"cell".cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(atRest == expected && expected.nonEmpty)
    // model refresh stays an OFFLINE decision: the ensure sees the
    // model term drift and re-trains
    assert(Similarity.ensureIvfIndex(union, indexPath, nCentroids = 4),
      "ensure over the streamed union must re-train the model")
  }

  test("cdcIndexStream seeds on batch 0 and extends per batch by " +
      "chunking ONLY the batch: at-rest pairs equal the from-scratch " +
      "CDC detector over the landed union, chunk shards append-only") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Dedup
    val corpusDir = Files.createTempDirectory("graft-stream-cdc").toString
    val indexPath = Files.createTempDirectory("graft-stream-cdi").toString
    val snippet = (0 until 40).map(i => s"tok$i").mkString(" ")
    val src = MemoryStream[(Long, String, String)]
    val q = Streams.cdcIndexStream(
      src.toDF().toDF("doc_id", "source", "text"), corpusDir, indexPath,
      Files.createTempDirectory("graft-stream-cdk").toString)
    // batch 0: the snippet doc + an unrelated doc
    src.addData((0L, "s", snippet),
      (1L, "s", (0 until 40).map(i => s"other$i").mkString(" ")))
    q.processAllAvailable()
    val chunkFiles0 = new java.io.File(s"$indexPath/chunks").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    // batch 1: a CONTAINER of the batch-0 snippet — the pair straddles
    // the batch boundary, so it only exists if extension probes the
    // at-rest base chunks
    src.addData((2L, "s", (0 until 20).map(i => s"pre$i").mkString(" ")
      + " " + snippet + " " + (0 until 20).map(i => s"post$i")
      .mkString(" ")))
    q.processAllAvailable()
    // batch 2: another unrelated doc
    src.addData((3L, "s", (0 until 40).map(i => s"extra$i").mkString(" ")))
    q.processAllAvailable()
    q.stop()
    val dirs = Streams.landedBatchDirs(spark, corpusDir)
    assert(dirs.size == 3)
    // base chunk shards survive byte-identical (extension appended)
    val chunkFilesNow = new java.io.File(s"$indexPath/chunks")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    assert(chunkFilesNow.intersect(chunkFiles0) == chunkFiles0,
      "extension must append batch chunk shards, never rewrite base")
    val union = spark.read.parquet(dirs: _*)
    val streamed = Dedup.readCdcPairs(spark, indexPath)
      .as[(Long, Long, Double)].collect().toSet
    val scratch = Dedup.cdcContainmentPairs(union, p = 8,
      threshold = 0.5, maxDf = Some(100L))
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == scratch && scratch.nonEmpty)
    assert(streamed.exists { case (a, b, _) =>
      math.min(a, b) == 0L && math.max(a, b) == 2L },
      "the cross-batch snippet/container pair must be found")
  }

  test("windowed event counts aggregate per window and type") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.windowedEventCounts(
      src.toDF(), windowLen = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Complete()).start()
    src.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "click", 2.0),
      Event(3, ts(11), 11, "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("win_counts")
      .select($"event_type", $"n", $"total")
      .as[(String, Long, Double)].collect().toSet
    q.stop()
    assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("sessionization closes sessions on gap and flushes on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.sessionize(src.toDS(), gapMs = 5 * 60000L,
      watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    // user 20: events at 1,3 then a gap, then 20 — first session closes
    // in-batch; watermark moves past 20+gap with the late probe event
    src.addData(
      Event(1, ts(1), 20, "click", 1.0),
      Event(2, ts(3), 20, "click", 2.0))
    q.processAllAvailable()
    src.addData(Event(3, ts(20), 20, "view", 4.0))
    q.processAllAvailable()
    src.addData(Event(4, ts(60), 21, "click", 8.0))
    q.processAllAvailable()
    src.addData(Event(5, ts(90), 21, "click", 16.0))
    q.processAllAvailable()
    val rows = spark.table("sessions")
      .select($"user_id", $"n_events", $"total_value")
      .as[(Long, Long, Double)].collect().toSet
    q.stop()
    // first session (events 1+2) closed by the gap; session at ts(20)
    // flushed by event-time timeout once the watermark passed
    assert(rows.contains((20L, 2L, 3.0)))
    assert(rows.contains((20L, 1L, 4.0)))
  }

  test("streaming windowed counts over the real events table equal batch q13") {
    val sf = "/root/testdata/sf0.001"
    val q = Streams.windowedEventCounts(
      Streams.eventsStream(spark, sf), windowLen = "1 hour",
      watermark = "2 hours")
      .writeStream.format("memory").queryName("events_stream_counts")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    val streamed = spark.table("events_stream_counts")
      .select($"win_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    q.stop()
    val batch = graft.queries.CoreQueries.queries("q13_windowed_events")(spark, sf)
      .select($"win_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming ANN over the embeddings table equals the batch plan " +
      "and the declared LSH top-k") {
    val sf = "/root/testdata/sf0.001"
    val baseTs = lit("2024-01-01 00:30:00").cast("timestamp")
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val qStream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "embeddings*.parquet")
      .parquet(sf)
      .filter($"vec_id" < 5)
      .withColumn("ts", baseTs)
    val q = Streams.annStream(qStream, corpus, k = 5)
      .writeStream.format("memory").queryName("ann_stream")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    val streamed = spark.table("ann_stream")
      .select($"qid", $"rank", $"cid", $"cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    q.stop()
    assert(streamed.nonEmpty)
    // mode-agnostic plan: the same call on a batch frame agrees
    val batch = Streams.annStream(
      corpus.filter($"vec_id" < 5).withColumn("ts", baseTs), corpus, k = 5)
      .select($"qid", $"rank", $"cid", $"cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(streamed == batch)
    // and both equal the declared batch LSH top-k (same buckets, same
    // rank semantics — the bounded heap vs window-rank agreement)
    val lsh = graft.ext.Similarity
      .topKLsh(corpus, corpus.filter($"vec_id" < 5), k = 5)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(streamed == lsh)
  }

  test("streaming dedup drops in-watermark duplicates, keeps distinct ids") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.dedupStream(src.toDF(), Seq("event_id"),
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    src.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(1, ts(1), 10, "click", 1.0), // exact redelivery
      Event(2, ts(2), 10, "view", 2.0))
    q.processAllAvailable()
    src.addData(Event(1, ts(3), 10, "click", 1.0)) // late duplicate id
    q.processAllAvailable()
    src.addData(Event(3, ts(4), 11, "click", 3.0))
    q.processAllAvailable()
    val rows = spark.table("dedup_stream")
      .select($"event_id").as[Long].collect().toSeq.sorted
    q.stop()
    assert(rows == Seq(1L, 2L, 3L))
  }

  test("streaming Bloom decontamination flags every true hit (no false negatives)") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.engine.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    // ground truth + sketch both come from the batch path: eval = doc_id
    // < 10, truth = train docs sharing a 5-gram with the eval set
    val truth = graft.ext.Contamination.exact(docs, col("doc_id") < 10)
      .select("train_id").as[Long].collect().toSet
    val evalSh = graft.ext.Dedup.shingled(docs.filter(col("doc_id") < 10), 5)
      .select(explode(col("sg")).as("sh"))
    val bloom = graft.ext.Contamination.buildBloom(evalSh, "sh", 1 << 20, 0.01)
    // train docs arrive as a stream; the filter is stateless map-side
    val src = MemoryStream[(Long, String)]
    val q = Streams.decontaminateStream(
      src.toDF().toDF("doc_id", "text"), bloom)
      .writeStream.format("memory").queryName("decon")
      .outputMode(OutputMode.Append()).start()
    val train = docs.filter(col("doc_id") >= 10)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    src.addData(train.take(train.length / 2).toIndexedSeq)
    src.addData(train.drop(train.length / 2).toIndexedSeq)
    q.processAllAvailable()
    val flagged = spark.table("decon").filter(col("might_hit"))
      .select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(truth.nonEmpty, "fixture should contain contaminated docs")
    // Bloom contract: false positives allowed, false negatives never
    assert(truth.subsetOf(flagged),
      s"missed true hits: ${(truth -- flagged).take(5)}")
    // and the prefilter actually prunes (not everything might_hit)
    assert(flagged.size < train.length)
  }

  test("streaming novelty estimate is one-sided over the exact batch " +
    "rate and mode-agnostic") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Contamination, Dedup}
    val docs = graft.engine.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val base = docs.filter(col("doc_id") < 100)
    val batch = docs.filter(col("doc_id") >= 100)
    // exact per-doc seen-fraction vs the base: batch-side ground truth
    val baseSh = Dedup.shingled(base, 3)
      .select(explode(col("sg")).as("sg")).distinct()
    val exact = Dedup.shingled(batch, 3)
      .select(col("doc_id"), explode(col("sg")).as("sg"))
      .join(baseSh.withColumn("hit", lit(1)), Seq("sg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0)))
        .as("n_seen"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val bloom = Contamination.buildBloom(
      baseSh.withColumnRenamed("sg", "sh"), "sh", 1 << 20, 0.01)
    // stream the batch docs through the stateless estimator
    val src = MemoryStream[(Long, String)]
    val q = Streams.noveltyStream(
      src.toDF().toDF("doc_id", "text"), bloom)
      .writeStream.format("memory").queryName("novelty")
      .outputMode(OutputMode.Append()).start()
    src.addData(batch.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("novelty")
      .select(col("doc_id"), col("n_shingles"), col("n_seen_est"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    q.stop()
    assert(exact.keySet.subsetOf(streamed.keySet))
    exact.foreach { case (id, (_, n, seen)) =>
      val (_, sn, sSeen) = streamed(id)
      assert(sn == n, s"shingle count drifted for doc $id")
      // Bloom one-sidedness: the estimate never under-counts
      assert(sSeen >= seen, s"novelty under-estimated for doc $id")
    }
    assert(exact.exists(_._2._3 > 0), "fixture should contain seen shingles")
    // mode-agnostic: the same plan over a plain batch frame is identical
    val batched = Streams.noveltyStream(
        batch.select(col("doc_id"), col("text")), bloom)
      .select(col("doc_id"), col("n_shingles"), col("n_seen_est"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(batched == streamed)
  }

  test("streaming admission agrees with the batch x60 gates it can " +
    "decide per row") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Contamination, Dedup, Export, TextAnalysis}
    val docs = graft.engine.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    // same split as x60: base < 100 (here: < 25 so a batch exists at
    // this SF), eval < 10
    val base = docs.filter(col("doc_id") < 25)
    val batchDocs = docs.filter(col("doc_id") >= 25)
    val batchTruth = Export.batchAdmission(docs, col("doc_id") < 25,
        col("doc_id") < 10)
      .select("doc_id", "keep_quality", "dup_exact", "contaminated", "admit")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val baseFps = base.select(
      TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
    val evalSh = Dedup.shingled(docs.filter(col("doc_id") < 10), 5)
      .select(explode(col("sg")).as("sh"))
    val bloom = Contamination.buildBloom(evalSh, "sh", 1 << 20, 0.01)
    val src = MemoryStream[(Long, String)]
    val q = Streams.admissionStream(
      src.toDF().toDF("doc_id", "text"), baseFps, bloom)
      .writeStream.format("memory").queryName("admission")
      .outputMode(OutputMode.Append()).start()
    src.addData(batchDocs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    val got = spark.table("admission")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    q.stop()
    assert(got.keySet == batchTruth.keySet)
    got.foreach { case (id, (_, kq, de, mc, adm)) =>
      val (_, bkq, bde, bct, _) = batchTruth(id)
      assert(kq == bkq, s"quality verdict drifted for doc $id")
      assert(de == bde, s"exact-dup verdict drifted for doc $id")
      // Bloom: superset of the true contamination set, never a miss
      assert(!bct || mc, s"contamination false negative for doc $id")
      // the stream never admits a doc the batch rejects for a
      // stream-decidable reason
      if (!bkq || bde || bct) assert(!adm, s"doc $id wrongly admitted")
    }
  }

  test("stream-static dim join enriches per micro-batch with defaults") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((10L, "boston"), (11L, "quincy")).toDF("dim_id", "city")
    val src = MemoryStream[Event]
    val q = Streams.enrichStream(src.toDF(), dim, "user_id", "dim_id",
      defaults = Map("city" -> lit("")))
      .select($"event_id", $"city")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    src.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 99, "view", 2.0)) // no dim row → default
    q.processAllAvailable()
    val rows = spark.table("enriched")
      .as[(Long, String)].collect().toMap
    q.stop()
    assert(rows == Map(1L -> "boston", 2L -> ""))
  }

  test("population facts run as a complete-mode streaming aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Option[Boolean], String, String)]
    val facts = graft.ops.CoreOps.factRollup(
      src.toDF().toDF("deceasedboolean", "gender", "cs_fips"),
      "deceasedboolean", "gender", Seq("cs_fips"))
    val q = facts.writeStream.format("memory").queryName("pop_stream")
      .outputMode(OutputMode.Complete()).start()
    src.addData((None, "female", "A"), (Some(true), "male", "A"))
    q.processAllAvailable()
    src.addData((Some(false), "male", "A"), (None, "female", "B"))
    q.processAllAvailable()
    val rows = spark.table("pop_stream")
      .as[(String, Long, Long, Long)].collect().toSet
    q.stop()
    // dead patient excluded; counts accumulate across micro-batches
    assert(rows == Set(("A", 2L, 1L, 1L), ("B", 1L, 0L, 1L)))
  }

  test("streaming ingest resumes from checkpoint without reprocessing") {
    val tmp = Files.createTempDirectory("graft-ckpt").toString
    val inDir = s"$tmp/in"; Files.createDirectories(Paths.get(inDir))
    def copyIn(name: String): Unit =
      Files.copy(
        Paths.get(getClass.getResource(s"/bundles/$name").getPath),
        Paths.get(s"$inDir/$name"), StandardCopyOption.REPLACE_EXISTING)
    copyIn("b1.json")
    val q1 = Streams.ingestStream(spark, inDir, s"$tmp/out", s"$tmp/ckpt")
    q1.processAllAvailable()
    q1.stop()
    // new file arrives while no query is running; a fresh query on the
    // same checkpoint must process ONLY the new file (source offsets are
    // durable — the reference's one-shot walk has no such story)
    copyIn("b5.json")
    val q2 = Streams.ingestStream(spark, inDir, s"$tmp/out", s"$tmp/ckpt")
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(s"$tmp/out/resources")
    assert(out.count() == 10) // b1: 6 entries + b5: 4 — no duplicates
  }

  test("streaming rawstat equals the batch pre-aggregate, incrementally") {
    import graft.fhir.{BundleIngest, RawStats}
    val tmp = Files.createTempDirectory("graft-rawstat-stream").toString
    val inDir = s"$tmp/in"; Files.createDirectories(Paths.get(inDir))
    def copyIn(name: String): Unit =
      Files.copy(
        Paths.get(getClass.getResource(s"/bundles/$name").getPath),
        Paths.get(s"$inDir/$name"), StandardCopyOption.REPLACE_EXISTING)
    val cousub = RawStats.loadCousubDim(Seq(
      ("Springfield", "25001", "2500100001"))
      .toDF("cs_name", "ct_fips", "cs_fips"))
    val disease = RawStats.loadDiseaseDim(Seq(
      ("http://snomed.info/sct", "44054006", 1, Some(10)))
      .toDF("code_system", "code", "condition_id", "disease_id"))
    copyIn("b1.json")
    val q = Streams.rawstatStream(spark, inDir, cousub, disease,
      "2020-01-01", s"$tmp/out", s"$tmp/ckpt")
    q.processAllAvailable()
    copyIn("b5.json") // second patient arrives later — incremental append
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$tmp/out/rawstat")
      .select($"patientid", $"gender", $"age")
      .as[(String, String, Int)].collect().toSet
    val batch = RawStats.build(
      BundleIngest.rewriteBundle(BundleIngest.readBundles(spark, inDir)),
      cousub, disease, lit("2020-01-01").cast("date"))
      .select($"patientid", $"gender", $"age")
      .as[(String, String, Int)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed.map(r => (r._2, r._3)) == batch.map(r => (r._2, r._3)))
  }

  test("streaming bundle ingest fans out to the partitioned resource sink") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val inDir = s"$tmp/in"; Files.createDirectories(Paths.get(inDir))
    val fixture = Paths.get(getClass.getResource("/bundles/b1.json").getPath)
    Files.copy(fixture, Paths.get(s"$inDir/b1.json"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = Streams.ingestStream(spark, inDir, s"$tmp/out", s"$tmp/ckpt")
    q.processAllAvailable()
    // drop a second file in — the stream must pick it up incrementally
    val f2 = Paths.get(getClass.getResource("/bundles/b5.json").getPath)
    Files.copy(f2, Paths.get(s"$inDir/b5.json"),
      StandardCopyOption.REPLACE_EXISTING)
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$tmp/out/resources")
    assert(out.count() == 10) // b1: 6 entries, b5: 4
    assert(out.filter(col("resource.subject.reference").startsWith("urn:"))
      .count() == 0)
  }

  test("x109 quantile sketch maintains at ingest: Complete-mode " +
    "streaming counts equal the batch sketch, estimates included") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Sketches
    val docs = graft.engine.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").select(col("doc_id"), col("source"), col("n_chars"))
    val rows = docs.as[(Long, String, Long)].collect()
    val src = MemoryStream[(Long, String, Long)]
    // the batch operator IS the streaming operator: groupBy-count is a
    // legal streaming aggregation, so sketch maintenance at ingest is
    // the same code path in Complete mode
    val q = Sketches.quantileBuckets(
        src.toDF().toDF("doc_id", "source", "n_chars"),
        col("source"), col("n_chars"))
      .writeStream.format("memory").queryName("qsketch")
      .outputMode(OutputMode.Complete()).start()
    src.addData(rows.take(rows.length / 2).toIndexedSeq)
    q.processAllAvailable()
    src.addData(rows.drop(rows.length / 2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qsketch")
      .orderBy(col("grp"), col("b"), col("sub"))
      .as[(String, Int, Long, Long, Long)].collect().toSeq
    val batch = Sketches.quantileBuckets(docs, col("source"),
        col("n_chars"))
      .orderBy(col("grp"), col("b"), col("sub"))
      .as[(String, Int, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    val estS = Sketches.quantileEstimates(spark.table("qsketch"),
        Seq(0.5, 0.9)).orderBy(col("grp"), col("q"))
      .as[(String, Double, Long, Double)].collect().toSeq
    val estB = Sketches.quantileEstimates(
        Sketches.quantileBuckets(docs, col("source"), col("n_chars")),
        Seq(0.5, 0.9)).orderBy(col("grp"), col("q"))
      .as[(String, Double, Long, Double)].collect().toSeq
    assert(estS == estB && estS.nonEmpty)
  }

  test("StreamBench.window: an empty window fails naming the query, the " +
      "window and the batches seen; batches after the bootstrap one give " +
      "their rows over their trigger time") {
    import graft.tools.StreamBench
    val empty = intercept[IllegalStateException] {
      StreamBench.window("windowed_agg", 4, Seq.empty)
    }
    assert(empty.getMessage.contains("windowed_agg") &&
      empty.getMessage.contains("4s window") &&
      empty.getMessage.contains("0 batches seen"))
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Long]
    // the first batch's rows are in before the start, so the bootstrap
    // batch is the 3-row one
    src.addData(1L to 3L: _*)
    val q = src.toDF().writeStream.format("noop")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-streambench-spec").toString)
      .start()
    try {
      q.processAllAvailable()
      for (n <- Seq(5, 7)) {
        src.addData(1L to n.toLong: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val progress = q.recentProgress.toSeq
    assert(progress.map(_.numInputRows) == Seq(3L, 5L, 7L))
    val bootstrapOnly = intercept[IllegalStateException] {
      StreamBench.window("sessionize", 20, progress.take(1))
    }
    assert(bootstrapOnly.getMessage.contains("sessionize") &&
      bootstrapOnly.getMessage.contains("1 batches seen"))
    val w = StreamBench.window("sessionize", 20, progress)
    val ms = progress.drop(1)
      .map(_.durationMs.get("triggerExecution").toLong).sum
    assert(w == StreamBench.Window(12L, 2, ms))
    assert(w.rowsPerSec == 12 / (ms / 1000.0))
  }
}
