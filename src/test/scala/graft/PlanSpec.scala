package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression gate: the physical plans of every declared
  * query, checked as tests so a refactor can't silently reintroduce a
  * scale-killer (SCALE.md documents the reasoning per operator).
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  /** Queries allowed to contain a BroadcastNestedLoopJoin — each is a
    * bounded broadcast cartesian (a 1-row count/scalar subquery or the
    * k-row ANN query side), not a data×data nested loop.
    */
  private val boundedBroadcastCartesian = Set(
    "q18_scalar_subquery", // 1-row scalar subquery
    "x10_ann_topk", // k-row query side vs corpus: inherent to exact scoring
    "x11_ann_topk_lsh", // same, within-bucket
    "x13_doc_frequency", // 1-row corpus count
    "x14_tfidf_top_term", // 1-row corpus count
    "x15_ann_topk_ivf", // k-row probe side
    "x28_label_centroid_sim", // |labels|²-bounded centroid pair matrix
    "x35_ann_recall", // composes topKBrute: same bounded k-row query side
    "x39_semantic_dedup", // k-row centroid side: the x15 cell assignment
    "x42_mix_plan", // 1-row corpus total, the x13/x14 pattern
    "x43_pipeline", // composes x39's k-row centroid side
    "x44_ann_topk_ivf_indexed", // k-row probe side against k-row centroids
    "x51_bm25_topk", // 1-row corpus stats, the x13/x14 pattern
    "x52_hybrid_rrf", // composes x51's 1-row stats + x10's k-row query side
    "x53_bigram_lm_score", // 1-row vocabulary size
    "x54_dsir_weights", // 1-row distribution totals
    "x55_cluster_balanced_sample", // k-row centroid side: x15's assignment
    "x64_mixture_weights", // 1-row normalizer totals, the x13/x14 pattern
    "x65_vocab_coverage", // 1-row corpus token total onto k rows
    "x66_ann_topk_ivfpq", // k-row centroid side: the x15 cell assignment
    "x67_cluster_labels", // x15's centroid side + 1-row mean-length
    "x71_matryoshka_recall", // composes topKBrute ×2: bounded query side
    "x75_pca_top_component", // 1-row mean/v/n broadcasts onto the corpus
    "x77_ann_topk_binary", // k-row query side (bitmap + rerank), x10's shape
    "x78_embedding_outliers", // k-row centroid side: x39's cell assignment
    "x80_hard_negatives", // k-row query side vs corpus, x10's shape
    "x81_tfidf_cosine_pairs", // 1-row corpus count, the x13/x14 pattern
    "x87_backoff_lm_score", // 1-row (N,V) broadcast onto the model rel
    "x91_retrieval_ndcg", // composes topKBrute: bounded query side
    "x92_pmi_collocations", // 1-row token/bigram totals, x13/x14 pattern
    "x93_cluster_silhouette", // k-row centroid side: the x15 assignment
    "x94_knn_graph", // k-row centroid side: the x15 cell assignment
    "x102_hll_novelty", // 1-row exact-count audit onto the 1-row sketch
    "x107_unimax_alloc", // 1-row waterfilling boundary onto sources
    "x108_coverage_audit", // 1-row corpus/sample totals onto cells
    "x110_probe_calibration", // 1-row total onto bins-bounded rows
    "x112_class_weights", // 1-row normalizer onto label cardinality
    "x120_assign_hier", // √k-row coarse + k-row member centroid sides
    "x124_threshold_sweep", // 10-row grid onto the edge-bounded pairs
    "x128_knn_production", // x120's √k/k-row centroid sides, composed
    "x130_semantic_dedup_production", // same composed centroid sides
    "x134_source_minhash_matrix", // |sources|²-bounded sketch pair matrix
    "x147_production_recall_audit", // composes topKBrute: bounded k-row query side
    "x148_knn_index_hier") // x144's composed centroid sides, hier-trained

  test("no declared query plans a data×data nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan: SparkPlan =
          fn(spark, sf).queryExecution.executedPlan
        val hasNlj = plan.toString.contains("BroadcastNestedLoopJoin")
        if (hasNlj && !boundedBroadcastCartesian(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected BroadcastNestedLoopJoin in: ${offenders.mkString(", ")}")
  }

  test("the at-rest IVF probe scan is partition-pruned to the probed " +
      "cells (x44/x139/x145's contract: nprobe directories read, " +
      "never the corpus)") {
    import graft.ext.{IndexProfile, Similarity}
    val e = graft.engine.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-ivf").toString
    Similarity.ensureIvfIndex(e, path,
      nCentroids = Similarity.adaptiveCellCount(e),
      profile = IndexProfile.Production())
    val plan = Similarity
      .topKIvfIndexed(path, e.filter(col("vec_id") < 5), k = 5)
      .queryExecution.executedPlan.toString
    // the corpus-side FileSourceScan must carry a PartitionFilters
    // entry on the cell partition column (the probed-cell IN-list is
    // collected to literals, so pruning is static at planning time)
    val scan = plan.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("cell"))
    assert(scan.isDefined,
      "expected a cell-partition-pruned scan:\n" + plan.take(3000))
    assert(scan.get.contains("IN") || scan.get.contains("isin")
      || scan.get.contains("in("),
      "PartitionFilters must pin the probed cell set: " + scan.get)
  }

  test("the IVF drift-stats scan reads ONLY the cell partition column " +
      "(x153's footer-bound claim: empty ReadSchema, no data pages at " +
      "any index size)") {
    import graft.ext.Similarity
    val e = graft.engine.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-drift").toString
    Similarity.ensureIvfIndex(e, path, nCentroids = 8)
    val plan = Similarity.ivfCellLoadStats(spark, path)
      .queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("ReadSchema"))
    assert(scan.isDefined, "expected a FileSourceScan:\n" + plan.take(2000))
    assert(scan.get.contains("ReadSchema: struct<>"),
      "drift stats must not read any data column: " + scan.get)
  }

  test("dim joins broadcast the dim side (q02)") {
    val plan = SparkEntry.queries("q02_dim_join_default")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("filters are pushed down to the parquet scan (q01)") {
    val plan = SparkEntry.queries("q01_filter_onehot_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_acctbal), " +
      "GreaterThanOrEqual(c_acctbal,0.0)]")
      || plan.contains("GreaterThanOrEqual(c_acctbal"), plan.take(2000))
  }

  test("projection pruning reaches the scan: q03 reads 2 of 4 columns") {
    val plan = SparkEntry.queries("q03_suffix_strip")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<n_nationkey:int,n_name:string>"),
      plan.take(2000))
  }

  test("partial aggregation runs before the exchange (q01)") {
    val plan = SparkEntry.queries("q01_filter_onehot_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    // partial HashAggregate must appear below the shuffle (plan prints
    // top-down: final agg, exchange, partial agg)
    val iPartial = plan.indexOf("HashAggregate(keys=[c_nationkey")
    val iExchange = plan.indexOf("Exchange hashpartitioning(c_nationkey")
    assert(iPartial >= 0 && iExchange >= 0 && iPartial < iExchange,
      plan.take(2000))
  }

  test("PQ corpus encode stays join-free (x24 regression guard)") {
    // the round-4 win: corpus codes come from the PqEncode expression,
    // not the corpus×codebook min_by join — the corpus side of the plan
    // must contain pq_encode and no join underneath the codes aggregate
    val plan = graft.ext.Similarity
      .pqCodes(graft.engine.Tables.load(spark, sf, "embeddings"),
        sub = 8, m = 8, codebookSize = 256)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PqEncode") || plan.contains("pqencode"),
      plan.take(1500))
    assert(!plan.contains("Join"), plan.take(1500))
  }

  test("x23/x29 contamination broadcasts the eval side (no corpus shuffle)") {
    // round-4 regression guard: the exploded train corpus must stream
    // through a BroadcastHashJoin against the bounded eval side — a
    // SortMergeJoin here means the whole exploded corpus shuffles
    for (q <- Seq("x23_contamination", "x29_bloom_contamination")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$q: ${plan.take(1500)}")
      assert(!plan.contains("SortMergeJoin"), s"$q: ${plan.take(1500)}")
    }
  }

  test("x17 CC iteration plan stays flat across checkpointed rounds") {
    // regression guard for the iterative-lineage trap: every round's plan
    // must be ONE fresh join pair over a flat checkpointed scan — if the
    // localCheckpoint between rounds is lost, round 2's plan inherits
    // round 1's joins and the join count grows per iteration
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst").localCheckpoint()
    var labels = edges.groupBy(col("src"))
      .agg(org.apache.spark.sql.functions.least(
        org.apache.spark.sql.functions.min(col("dst")), col("src"))
        .as("cluster"))
      .select(col("src").as("doc_id"), col("cluster")).localCheckpoint()
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      "Join".r.findAllIn(df.queryExecution.optimizedPlan.toString).length
    val s1 = graft.ext.Dedup.ccStep(edges, labels,
      org.apache.spark.sql.Observation("plan_cc_1"))
    val n1 = joins(s1)
    labels = s1.localCheckpoint()
    val s2 = graft.ext.Dedup.ccStep(edges, labels,
      org.apache.spark.sql.Observation("plan_cc_2"))
    assert(joins(s2) == n1,
      s"round-2 plan has ${joins(s2)} joins vs round-1 $n1 — lineage is accumulating")
  }

  test("x34 winnowing plans exactly one Exchange (the output order)") {
    // string count: AdaptiveSparkPlanExec does not expose the inner plan
    // through collect() before execution
    val plan = SparkEntry.queries("x34_winnowing")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange ".r.findAllIn(plan).length == 1, plan.take(1500))
  }

  test("x37 source overlap plans no join (one corpus pass)") {
    // regression guard for the collect_set rewrite: the self-join form
    // computed the corpus-scale (source, shingle) distinct twice and
    // joined it — the aggregate form must keep the plan join-free
    val plan = SparkEntry.queries("x37_source_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(1500))
  }

  test("x36 top-k bigrams plans TakeOrderedAndProject, not a global sort") {
    // orderBy+limit must fuse into per-partition top-k heaps merged at
    // the driver; a Sort over a single-partition Exchange would pull the
    // whole bigram histogram through one task
    for (name <- Seq("x36_ngram_topk", "x73_bpe_pair_counts")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), s"$name:\n" + plan.take(1500))
      assert(!plan.contains("Exchange rangepartitioning"),
        s"$name:\n" + plan.take(1500))
    }
  }

  test("new text queries prune the documents scan to the columns they " +
      "read") {
    // a scan that drags lang/n_chars through a tokenize-explode pipeline
    // reads 40%+ more parquet than the query needs at 100 TB.
    // Other suites .cache() the documents relation on this shared
    // session; cached-plan substitution would swap the parquet scan for
    // an InMemoryRelation and erase the ReadSchema line — drop caches so
    // this test sees the real scan regardless of suite order.
    spark.catalog.clearCache()
    val cases = Seq(
      "x62_repetition_metrics" -> "struct<doc_id:bigint,text:string>",
      "x65_vocab_coverage" -> "struct<text:string>",
      "x64_mixture_weights" -> "struct<text:string,source:string>",
      "x70_novelty_rate" -> "struct<doc_id:bigint,text:string>",
      "x72_norm_dedup_delta" -> "struct<text:string,source:string>",
      "x73_bpe_pair_counts" -> "struct<text:string>",
      "x74_curriculum_schedule" ->
        "struct<doc_id:bigint,text:string,source:string>",
      // (x89 not listed: its shingle relation is checkpoint-materialized,
      // so the executed plan shows the lineage cut, not the parquet scan)
      "x90_hll_distinct" -> "struct<text:string,source:string>",
      "x92_pmi_collocations" -> "struct<text:string>",
      "x96_zipf_fit" -> "struct<text:string>",
      "x97_blocklist_gate" -> "struct<text:string,source:string>",
      "x98_readability" -> "struct<doc_id:bigint,text:string>",
      "x99_token_burstiness" -> "struct<doc_id:bigint,text:string>",
      "x100_template_prefix" -> "struct<text:string,source:string>",
      // (x102 not listed: its shingle relation is checkpoint-
      // materialized, so the executed plan shows the lineage cut)
      // embeddings scan: vec_id must be pruned away (only the vectors
      // feed the mean/iteration passes)
      "x75_pca_top_component" -> "struct<embedding:array<float>>",
      // x95: label + vectors only — the identity needs no per-row id
      "x95_label_dispersion" -> "struct<embedding:array<float>,label:int>",
      // x101: vectors only — the audit needs no per-row id either
      "x101_int8_quant_error" -> "struct<embedding:array<float>>")
    for ((name, schema) <- cases) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains(s"ReadSchema: $schema"),
        s"$name: expected $schema in\n${plan.take(2000)}")
    }
  }

  test("x63 pack manifest reuses the shard partitioning: one hash " +
      "Exchange before the final order") {
    // the running-offset window hash-partitions on the shard column, and
    // HashPartitioning(part) already satisfies the downstream
    // (part, pack_id) aggregation's ClusteredDistribution — a second
    // corpus shuffle between window and agg would mean the partitioning
    // contract regressed
    // the r20 SortSampleCut adds its own, deliberate hash exchange on
    // the final sort keys directly under the range sort; it is told
    // apart from the window's exchange by its keys
    val plan = graft.SparkEntry.queries("x63_pack_manifest")(spark, sf)
      .queryExecution.executedPlan.toString
    // "part#12, pack_id#40L, 200" → Seq("part", "pack_id")
    def keys(args: String): Seq[String] =
      args.split(",").toSeq.dropRight(1)
        .map(_.trim.takeWhile(c => c != '#' && c != ' '))
    def exchanges(kind: String): Seq[Seq[String]] =
      s"Exchange $kind\\(([^)]*)\\)".r.findAllMatchIn(plan)
        .map(m => keys(m.group(1))).toSeq
    val sortKeys = exchanges("rangepartitioning")
    assert(sortKeys.size == 1,
      s"expected one final range sort:\n${plan.take(2000)}")
    val hash = exchanges("hashpartitioning")
    val window = hash.filterNot(_ == sortKeys.head)
    assert(window == Seq(Seq("part")),
      s"expected exactly 1 hash Exchange on the window's partition key " +
        s"(part), got $window:\n${plan.take(2000)}")
    assert(hash.count(_ == sortKeys.head) == 1,
      s"expected the SortSampleCut hash Exchange on the sort keys " +
        s"${sortKeys.head}:\n${plan.take(2000)}")
  }

  test("SortSampleCut materializes the child of an aggregating range " +
      "sort (x81 contract) and leaves join-only tails alone (x82)") {
    // execute, then read the final adaptive plan — the cut must both
    // fire at initial prep AND survive every AQE replan's cost check
    def finalPlan(name: String): String = {
      val qe = graft.SparkEntry.queries(name)(spark, sf).queryExecution
      qe.toRdd.count() // bench's timed action — executes THIS execution
      qe.executedPlan.toString
    }
    // is the range-sort exchange fed (through AQE stage wrappers) by a
    // hash exchange? — the inserted cut's exact final-plan signature;
    // a plain text window would false-positive on unrelated exchanges
    // deeper in the tail (x82's own distinct exchange)
    def rangeFedByHash(plan: String): Boolean = {
      val lines = plan.linesIterator.toVector
      val i = lines.indexWhere(_.contains("Exchange rangepartitioning"))
      i >= 0 && lines.drop(i + 1)
        .map(_.replaceAll("^[\\s:+|-]*", "").replaceAll("^\\*(\\(\\d+\\))? ", ""))
        .find(l => !l.startsWith("AQEShuffleRead") &&
          !l.startsWith("ShuffleQueryStage"))
        .exists(_.startsWith("Exchange hashpartitioning"))
    }
    // x81's tail (sum-aggregate + joins over a ~100k-row candidates
    // stage) must carry the inserted hash exchange directly under the
    // range sort, so the global-sort sampling pass re-reads a
    // materialized shuffle instead of re-executing the verify
    val x81 = finalPlan("x81_tfidf_cosine_pairs")
    assert(rangeFedByHash(x81),
      s"x81 range sort not fed by a materializing hash exchange:\n" +
        x81.take(2000))
    // x82's tail is a bare final-distinct merge — cutting it shuffles
    // the full pair output to save a trivial re-merge (measured net
    // loss), so the rule must NOT fire
    val x82 = finalPlan("x82_simhash_neardup")
    assert(!rangeFedByHash(x82),
      s"x82 join-only tail unexpectedly cut:\n${x82.take(2000)}")
  }

  test("Spread.cpuHeavy round-robins a narrow bare scan only while " +
      "sortBeforeRepartition keeps that placement retry-deterministic") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
    val docs = graft.engine.Tables.load(spark, sf, "documents")
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "fixture scan must be narrower than the slot count")
    def spreads: Boolean = {
      val qe = graft.engine.Spread.cpuHeavy(docs).queryExecution
      val logical = qe.optimizedPlan.collect {
        case r: RepartitionOperation => r }.nonEmpty
      val physical = qe.executedPlan.toString
        .contains("RoundRobinPartitioning")
      assert(logical == physical, qe.executedPlan.toString)
      physical
    }
    assert(spreads, "default conf: narrow bare scan must be spread")
    val key = "spark.sql.execution.sortBeforeRepartition"
    spark.conf.set(key, "false")
    try assert(!spreads,
      "without the pre-sort a round-robin exchange is not retry-safe")
    finally spark.conf.unset(key)
  }
}
