package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.ext.{Dedup, Multimodal, Similarity}

/** Extension-operator specs on the sf0.001 testdata (read-only inputs). */
class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.load(spark, sf, "documents").cache()
  private lazy val emb = Tables.load(spark, sf, "embeddings").cache()

  test("minhash-LSH and inverted-index near-dup pairs equal brute force") {
    val brute = Dedup.jaccardPairsBrute(docs, 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val index = Dedup.jaccardPairsIndex(docs, 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.jaccardPairsLsh(docs, 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.jaccardPairsPrefix(docs, 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val hashed = Dedup.jaccardPairsIndexHashed(docs, 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty, "testdata should contain planted near-dups")
    assert(index == brute)
    assert(lsh == brute)
    assert(prefix == brute)
    assert(hashed == brute)
  }

  test("dedupClusters labels components with min doc_id, singletons self") {
    val d = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    // components: {1,2,3} (chain), {5,6}, singletons {4}, {7}
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (5L, 6L, 0.8))
      .toDF("da", "db", "j")
    val out = graft.ext.Dedup.dedupClusters(d, pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // a longer chain still converges (propagation, not one-hop)
    val chain = (1L to 12L).sliding(2).map(s => (s(0), s(1), 0.9)).toSeq
      .toDF("da", "db", "j")
    val d2 = (1L to 12L).toDF("doc_id")
    val out2 = graft.ext.Dedup.dedupClusters(d2, chain)
      .as[(Long, Long)].collect()
    assert(out2.forall(_._2 == 1L))
  }

  test("randomProject matches the explicit planeWeight dot and plans " +
    "no exchange") {
    import graft.ext.Similarity
    val e = Seq((0L, Seq(1.0f, 0.5f, -0.25f, 2.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(e, dim = 4, outDim = 3)
    val rows = out.orderBy("vec_id").collect()
    // local oracle: the same float weights, sequential double accumulate
    def expect(v: Seq[Float], j: Int): Double = {
      var acc = 0.0
      for (d <- 0 until 4)
        acc += v(d).toDouble * Similarity.planeWeight(j, d).toFloat.toDouble
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for (j <- 0 until 3)
      assert(rows(0).getDouble(1 + j) == expect(Seq(1.0f, 0.5f, -0.25f, 2.0f), j))
    assert((1 to 3).forall(c => rows(1).getDouble(c) == 0.0))
    // pure map pass: nothing in the plan shuffles
    val exchanges = out.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty)
  }

  test("fuzzyDedupCorpus keeps min-id reps with absorbed counts, " +
    "singletons intact") {
    val d = Seq(
      (1L, "a", "one two three"), (2L, "a", "one two three"),
      (3L, "b", "one two four"), (4L, "b", "lone doc here"),
      (5L, "c", "five six seven"), (6L, "c", "five six eight"),
      (7L, "a", "solo text row")).toDF("doc_id", "source", "text")
    // components: {1,2,3} (chain), {5,6}, singletons {4}, {7}
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (5L, 6L, 0.8))
      .toDF("da", "db", "j")
    val out = graft.ext.Dedup.fuzzyDedupCorpus(d, pairs)
      .select("doc_id", "n_members", "source", "text")
      .as[(Long, Int, String, String)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2)).toSeq ==
      Seq((1L, 3), (4L, 1), (5L, 2), (7L, 1)))
    // the representative carries ITS OWN source/text, not a merge
    assert(out.find(_._1 == 5L).get._4 == "five six seven")
  }

  test("batchAdmission verdicts: one doc per failing gate, clean doc " +
    "admitted, reasons follow gate precedence") {
    import graft.ext.Export
    val d = Seq(
      // base corpus (ids < 100); id 5 is also the eval doc (id < 10)
      (5L, "zulu yankee xray whiskey victor uniform tango"),
      (20L, "alpha bravo charlie delta echo foxtrot golf"),
      // batch (ids >= 100)
      (100L, "@@@@ #### $$$$ %%%%"), // quality fail (symbol ratio)
      (101L, "alpha bravo charlie delta echo foxtrot golf"), // exact dup
      (102L, "alpha bravo charlie delta echo foxtrot hotel"), // near dup j=4/6
      (103L, "zulu yankee xray whiskey victor sierra papa"), // shares eval 5-gram
      (104L, "november mike lima kilo juliett india oscar")) // clean
      .toDF("doc_id", "text")
    val out = Export.batchAdmission(d, col("doc_id") < 100,
        col("doc_id") < 10).orderBy("doc_id")
      .select("doc_id", "admit", "reason")
      .as[(Long, Boolean, String)].collect().toSeq
    assert(out == Seq(
      (100L, false, "quality"), (101L, false, "exact_dup"),
      (102L, false, "near_dup"), (103L, false, "contaminated"),
      (104L, true, "ok")))
  }

  test("incrementalFuzzyDedup equals the brute cross-side pairs on the " +
    "planted-dup corpus") {
    // split the sf0.001 corpus like x59 does at larger SFs: base = first
    // half of ids, batch = rest; brute = every cross pair via the
    // self-join brute path restricted to cross-side pairs
    val base = docs.filter($"doc_id" < 25)
    val batch = docs.filter($"doc_id" >= 25)
    val out = Dedup.incrementalFuzzyDedup(base, batch, n = 3,
        threshold = 0.5)
      .as[(Long, Boolean, Option[Long], Option[Double])].collect()
    val brute = Dedup.jaccardPairsBrute(docs, 3, 0.5)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
      .filter { case (a, b, _) => a >= 25 && b < 25 }
    val expectBest = brute.groupBy(_._1).map { case (a, ps) =>
      val best = ps.maxBy(p => (p._3, -p._2))
      a -> ((best._2, best._3))
    }
    assert(expectBest.nonEmpty, "corpus should contain cross-side dups")
    assert(out.length == batch.count())
    out.foreach { case (id, dup, bid, bj) =>
      expectBest.get(id) match {
        case Some((eb, ej)) =>
          assert(dup && bid.contains(eb) && bj.contains(ej), s"doc $id")
        case None => assert(!dup && bid.isEmpty && bj.isEmpty, s"doc $id")
      }
    }
  }

  test("incrementalFuzzyDedup flags batch docs with a base near-dup, " +
    "picks the best match, keeps short/unique docs unflagged") {
    import graft.ext.Dedup
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1, near 2
      (11L, "totally different words entirely here now"),
      (12L, "hi")).toDF("doc_id", "text") // < n tokens: no shingles
    val out = Dedup.incrementalFuzzyDedup(base, batch, n = 3, threshold = 0.5)
      .orderBy("doc_id")
      .as[(Long, Boolean, Option[Long], Option[Double])].collect()
    assert(out(0) == ((10L, true, Some(1L), Some(1.0)))) // j=1.0 beats doc 2
    assert(out(1) == ((11L, false, None, None)))
    assert(out(2) == ((12L, false, None, None)))
  }

  test("dedupClusters handles empty corpus and empty edge set") {
    val none = spark.emptyDataFrame
      .withColumn("doc_id", lit(0L)).filter(lit(false))
    val noEdges = Seq.empty[(Long, Long, Double)].toDF("da", "db", "j")
    assert(graft.ext.Dedup.dedupClusters(none, noEdges).count() == 0)
    val three = Seq(1L, 2L, 3L).toDF("doc_id")
    val out = graft.ext.Dedup.dedupClusters(three, noEdges)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("dedupClustersAlternating: identical labels to min-label CC on " +
      "chains, empty sets, and random graphs; fewer rounds on a deep chain") {
    import graft.ext.Dedup
    // 24-hop chain: min-label needs ~diameter rounds, alternating ~log
    val chain = (1L to 25L).sliding(2).map(s => (s(0), s(1), 0.9)).toSeq
      .toDF("da", "db", "j")
    val d = (1L to 25L).toDF("doc_id")
    val alt = Dedup.dedupClustersAlternating(d, chain)
      .as[(Long, Long)].collect().toMap
    assert(alt.values.forall(_ == 1L) && alt.size == 25)
    val (_, altRounds) = Dedup.ccAlternatingLoop(
      chain.select($"da", $"db"), maxRounds = 30)
    val mirrored = chain.select($"da".as("src"), $"db".as("dst"))
      .union(chain.select($"db", $"da"))
    val (_, mlRounds) = Dedup.ccMinLabelLoop(mirrored, maxIters = 50)
    assert(altRounds < mlRounds,
      s"alternating $altRounds rounds vs min-label $mlRounds on a 24-hop chain")
    // empty edge set
    assert(Dedup.dedupClustersAlternating(d, Seq.empty[(Long, Long, Double)]
      .toDF("da", "db", "j")).as[(Long, Long)].collect()
      .forall(p => p._1 == p._2))
    // random graphs: label-for-label identical to the min-label path
    for (seed <- Seq(11, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.04
      } yield (a, b, 1.0)).toSeq
      val docs = (0L until n).toDF("doc_id")
      val pairs = edges.toDF("da", "db", "j")
      val ml = Dedup.dedupClusters(docs, pairs)
        .as[(Long, Long)].collect().toMap
      val al = Dedup.dedupClustersAlternating(docs, pairs)
        .as[(Long, Long)].collect().toMap
      assert(al == ml, s"seed=$seed")
    }
  }

  test("cachedPairs/cachedClusters: row-identical to the uncached " +
      "builders, hit the session cache on re-use, and key by params") {
    import graft.ext.Dedup
    Dedup.invalidateDedupArtifacts()
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s1"),
      (2L, "alpha beta gamma delta epsilon zeta", "s1"),
      (3L, "one two three four five six seven", "s2"),
      (4L, "totally different text goes right here", "s2")
    ).toDF("doc_id", "text", "source")
    val direct = Dedup.dedupClusters(d,
      Dedup.jaccardPairsIndexHashed(d, n = 3, threshold = 0.5))
      .as[(Long, Long)].collect().toMap
    val cached = Dedup.cachedClusters(d).as[(Long, Long)].collect().toMap
    assert(cached == direct)
    val sizeAfterFirst = Dedup.artifactCacheSize
    assert(sizeAfterFirst == 2, s"pairs + labels: $sizeAfterFirst")
    // re-use hits the cache (no new entries), same rows
    assert(Dedup.cachedClusters(d).as[(Long, Long)].collect().toMap
      == direct)
    assert(Dedup.artifactCacheSize == sizeAfterFirst)
    // different hyperparameters get their own entries
    Dedup.cachedPairs(d, n = 2, threshold = 0.4).count()
    assert(Dedup.artifactCacheSize == sizeAfterFirst + 1)
    Dedup.invalidateDedupArtifacts()
    assert(Dedup.artifactCacheSize == 0)
  }

  test("dedupClusters equals union-find on random graphs") {
    for (seed <- Seq(7, 23, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.04
      } yield (a, b, 1.0)).toSeq
      // driver-side union-find oracle
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b, _) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n.toInt).map(i => i.toLong -> find(i).toLong).toMap
      val got = graft.ext.Dedup.dedupClusters(
        (0L until n).toDF("doc_id"), edges.toDF("da", "db", "j"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("hash split is deterministic, uniform-ish, and rand()-free") {
    val ids = (0L until 1000L).toDF("doc_id")
    val a = ids.select($"doc_id",
      graft.ext.Sampling.split($"doc_id").as("s")).collect()
    val b = ids.select($"doc_id",
      graft.ext.Sampling.split($"doc_id").as("s")).collect()
    assert(a.toSeq == b.toSeq)
    val byS = a.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byS("train") > 700 && byS("train") < 900)
    assert(byS("val") > 50 && byS("val") < 150)
    assert(byS("test") > 50 && byS("test") < 150)
    // a different salt re-deals the assignment
    val c = ids.select(
      graft.ext.Sampling.split($"doc_id", "exp2").as("s")).collect()
    assert(c.map(_.getString(0)).toSeq != a.map(_.getString(1)).toSeq)
  }

  test("exact dedup groups by fingerprint, keeps min doc_id") {
    val twice = docs.select($"doc_id", $"text")
      .union(docs.select($"doc_id" + 10000, $"text"))
    val out = Dedup.exact(twice)
    assert(out.count() == docs.count())
    assert(out.filter($"n_copies" =!= 2).count() == 0)
    assert(out.filter($"keep_id" >= 10000).count() == 0)
  }

  test("LSH top-k cosine values agree with brute force on shared pairs") {
    val queries = emb.filter($"vec_id" < 5)
    val brute = Similarity.topKBrute(emb, queries, 10)
      .select($"qid", $"cid", $"cos").as[(Long, Long, Double)]
      .collect().map { case (q, c, s) => (q, c) -> s }.toMap
    val lsh = Similarity.topKLsh(emb, queries, 10)
      .select($"qid", $"cid", $"cos").as[(Long, Long, Double)].collect()
      .map { case (q, c, s) => (q, c) -> s }
    assert(lsh.nonEmpty)
    // every LSH-scored pair that brute force also ranked must agree exactly
    val shared = lsh.filter { case ((q, c), _) => brute.contains((q, c)) }
    assert(shared.nonEmpty)
    shared.foreach { case ((q, c), s) => assert(brute((q, c)) == s) }
  }

  test("bounded-heap top-k aggregator equals window-rank brute force") {
    val queries = emb.filter($"vec_id" < 5)
    val brute = Similarity.topKBrute(emb, queries, 10)
      .as[(Long, Int, Long, Double)].collect().toSet
    val agg = Similarity.topKAggregated(emb, queries, 10)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(agg == brute)
  }

  test("IVF top-k cosine values agree with brute force on shared pairs") {
    val queries = emb.filter($"vec_id" < 5)
    val brute = Similarity.topKBrute(emb, queries, 10)
      .select($"qid", $"cid", $"cos").as[(Long, Long, Double)]
      .collect().map { case (q, c, s) => (q, c) -> s }.toMap
    val ivf = Similarity.topKIvf(emb, queries, 10)
      .select($"qid", $"cid", $"cos").as[(Long, Long, Double)].collect()
      .map { case (q, c, s) => (q, c) -> s }
    assert(ivf.nonEmpty)
    assert(ivf.map(_._1._1).distinct.length == 5) // every query answered
    val shared = ivf.filter { case ((q, c), _) => brute.contains((q, c)) }
    assert(shared.nonEmpty)
    shared.foreach { case ((q, c), s) => assert(brute((q, c)) == s) }
  }

  test("block-grid near-dup pairs equal the nested-loop brute force") {
    val brute = Similarity.nearDupPairs(emb, 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val blocked = Similarity.nearDupPairsBlocked(emb, 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty)
    assert(blocked == brute)
    // the declared plan must not contain a nested-loop join
    val plan = Similarity.nearDupPairsBlocked(emb, 0.2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("hyperplane-LSH near-dup pairs are a verified subset of brute force") {
    val brute = Similarity.nearDupPairs(emb, 0.2)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val lsh = Similarity.nearDupPairsLsh(emb, 0.2)
      .as[(Long, Long, Double)].collect()
    assert(brute.nonEmpty)
    assert(lsh.nonEmpty)
    // every LSH pair must exist in brute force with the identical cosine
    lsh.foreach { case (a, b, c) => assert(brute((a, b)) == c) }
    // 32 tables × 6 bits: simulated recall at this angle ≈ 0.72
    assert(lsh.length.toDouble / brute.size > 0.5)
  }

  test("PQ top-k is deterministic and overlaps brute-force neighbors") {
    val queries = emb.filter($"vec_id" < 10)
    val pq = Similarity.topKPq(emb, queries, 10)
      .select($"qid", $"rank", $"cid").as[(Long, Int, Long)].collect()
    val pq2 = Similarity.topKPq(emb, queries, 10)
      .select($"qid", $"rank", $"cid").as[(Long, Int, Long)].collect()
    assert(pq.toSeq == pq2.toSeq)
    assert(pq.map(_._1).distinct.length == 10) // every query answered
    assert(pq.length == 100)
    // 32x-compressed codes still find a meaningful share of the true
    // nearest neighbors (cosine-ranked brute force as the yardstick)
    val brute = Similarity.topKBrute(emb, queries, 10)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val overlap = pq.map(r => (r._1, r._3)).count(brute.contains)
    assert(overlap > 10, s"PQ recall@10 too low: $overlap/100")
  }

  test("k-means-trained IVF centroids improve recall@10 at same nprobe") {
    val queries = emb.filter($"vec_id" < 20)
    def recallOf(cent: Option[org.apache.spark.sql.DataFrame]): Double = {
      val brute = Similarity.topKBrute(emb, queries, 10)
        .select($"qid", $"cid").as[(Long, Long)].collect().toSet
      val ivf = Similarity.topKIvf(emb, queries, 10, centroids = cent)
        .select($"qid", $"cid").as[(Long, Long)].collect().toSet
      (ivf & brute).size.toDouble / brute.size
    }
    val firstN = recallOf(None)
    val trained = recallOf(Some(Similarity.trainCentroids(emb, 8, iters = 3)))
    // measured on this corpus: 0.670 first-N → 0.695 after 3 Lloyd
    // iterations (20 queries × k=10, nprobe=2)
    assert(trained > firstN,
      s"trained recall $trained should beat first-N $firstN")
  }

  test("trained centroids are session-cached: identical inputs reuse, " +
    "different params don't collide") {
    // fixture data unique to this test (no other suite trains on these
    // values), and assertions are per-KEY presence + result identity —
    // global cache-size deltas were order/concurrency-dependent
    val fix = Seq(
      (0L, Seq(0.731f, 0.114f)), (1L, Seq(0.249f, 0.867f)),
      (2L, Seq(0.555f, 0.391f)), (3L, Seq(0.102f, 0.944f)),
      (4L, Seq(0.803f, 0.622f))).toDF("vec_id", "embedding")
    assert(!Similarity.trainCacheContains(fix, 3, 2),
      "fixture key must start absent — is another test training on it?")
    val a = Similarity.trainCentroids(fix, nCentroids = 3, iters = 2)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(Similarity.trainCacheContains(fix, 3, 2),
      "first call must populate the key")
    val b = Similarity.trainCentroids(fix, nCentroids = 3, iters = 2)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(a == b)
    assert(Similarity.centroidKey(fix, 2, 2) !=
      Similarity.centroidKey(fix, 3, 2),
      "different params are a different index")
    val c = Similarity.trainCentroids(fix, nCentroids = 2, iters = 2)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(c != a)
  }

  test("trainCentroidsKeyed: checkpointed re-materializations of the same " +
      "derived corpus reuse the model; key inputs/tag changes retrain") {
    import graft.engine.Checkpoints.MaterializeOps
    val base = Seq(
      (0L, Seq(0.317f, 0.828f)), (1L, Seq(0.926f, 0.205f)),
      (2L, Seq(0.481f, 0.773f)), (3L, Seq(0.664f, 0.092f)),
      (4L, Seq(0.138f, 0.557f))).toDF("vec_id", "embedding")
    def derived() = base.filter($"vec_id" < 4).materialized
    // plain trainCentroids on a checkpointed relation trains uncached
    // (unstable plan identity) — the keyed form is the remedy
    val uncached = Similarity.trainCentroids(derived(), nCentroids = 2,
      iters = 2).as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val a = Similarity.trainCentroidsKeyed(derived(), "extspec-keyed",
        Seq(base), nCentroids = 2, iters = 2)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(a == uncached, "keyed training must not change the result")
    // second call over a FRESH materialization: must hit (same closure)
    // — and must return the identical model even though the RDD differs
    val b = Similarity.trainCentroidsKeyed(derived(), "extspec-keyed",
        Seq(base), nCentroids = 2, iters = 2)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(b == a)
    // a different tag is a different index — trains its own entry even
    // for the same inputs (the caller's flag-sensitivity contract)
    val c = Similarity.trainCentroidsKeyed(derived(), "extspec-keyed-v2",
        Seq(base), nCentroids = 2, iters = 2)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(c == a, "same corpus, different tag: same (retrained) model")
    // different key inputs (here: a different base relation) re-key
    val base2 = base.withColumn("embedding",
      transform($"embedding", v => v * 2f))
    val d = Similarity.trainCentroidsKeyed(derived(), "extspec-keyed",
        Seq(base2), nCentroids = 2, iters = 2)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(d == a, "corpus unchanged → same model under the new key")
  }

  test("rewriting a corpus's files under the same path invalidates the " +
      "centroid cache key (data fingerprint)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cent-fp")
      .toString
    def writeCorpus(scale: Float): Unit = Seq(
      (0L, Seq(1f * scale, 0f)), (1L, Seq(0f, 1f * scale)),
      (2L, Seq(1f * scale, 1f)), (3L, Seq(0.2f, 0.9f * scale)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    writeCorpus(1.0f)
    val v1 = spark.read.parquet(dir)
    val k1 = Similarity.centroidKey(v1, 2, 1)
    val a = Similarity.trainCentroids(v1, nCentroids = 2, iters = 1)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    writeCorpus(3.0f)
    val v2 = spark.read.parquet(dir)
    // the plan hash alone reduces to the path and would collide; the
    // file-metadata fingerprint must separate the two corpus versions
    assert(Similarity.centroidKey(v2, 2, 1) != k1,
      "rewritten files under the same path must change the cache key")
    assert(!Similarity.trainCacheContains(v2, 2, 1))
    val b = Similarity.trainCentroids(v2, nCentroids = 2, iters = 1)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(a != b, "retraining on the rewritten corpus must see new data")
  }

  test("persisted IVF index probe equals the in-query IVF path and " +
      "prunes to the probed cell partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx")
      .toString
    Similarity.writeIvfIndex(emb, dir, nCentroids = 8)
    val queries = emb.filter($"vec_id" < 10)
    val indexed = Similarity.topKIvfIndexed(dir, queries, 10)
    val inQuery = Similarity.topKIvf(emb, queries, 10,
      centroids = Some(Similarity.trainCentroids(emb, 8)))
    assert(indexed.as[(Long, Int, Long, Double)].collect().toSet ==
      inQuery.as[(Long, Int, Long, Double)].collect().toSet)
    // a small probe batch must select ONLY its probed cell= directories —
    // a strict subset of what the index holds (the point of the at-rest
    // layout). AQE wraps scans in adaptive/query-stage nodes, so walk.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val allCells = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(allCells.size > 2, s"fixture should train >2 cells: $allCells")
    val narrow = Similarity.topKIvfIndexed(
      dir, emb.filter($"vec_id" === 0), 10)
    narrow.collect() // finalize the adaptive plan
    val indexScans = scans(narrow.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "cell"))
    assert(indexScans.nonEmpty, "probe should scan the partitioned index")
    indexScans.foreach { scan =>
      assert(scan.partitionFilters.nonEmpty,
        "probe scan carries no partition filter: full index scan")
      val selected = scan.selectedPartitions.partitionCount
      assert(selected <= 2 && selected < allCells.size,
        s"scan selected $selected of ${allCells.size} cells — no pruning " +
          "(nprobe=2 with one query must touch at most 2)")
    }
  }

  test("reliable checkpoint mode: LSH pairs and CC clusters identical " +
      "to the local-checkpoint default") {
    import graft.engine.Checkpoints
    val localPairs = Dedup.jaccardPairsLsh(docs, 3, 0.5)
      .collect().map(_.toString).sorted.toSeq
    val localCc = Dedup.dedupClusters(docs,
      Dedup.jaccardPairsLsh(docs, 3, 0.5))
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set(Checkpoints.ModeKey, "reliable")
    try {
      val relPairs = Dedup.jaccardPairsLsh(docs, 3, 0.5)
        .collect().map(_.toString).sorted.toSeq
      val relCc = Dedup.dedupClusters(docs,
        Dedup.jaccardPairsLsh(docs, 3, 0.5))
        .collect().map(_.toString).sorted.toSeq
      assert(relPairs == localPairs)
      assert(relCc == localCc)
      // the mode actually wrote reliable checkpoints, not local blocks
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.isDefined && new java.io.File(
        new java.net.URI(dir.get)).exists())
    } finally spark.conf.unset(Checkpoints.ModeKey)
  }

  test("chunking covers every token, overlaps exactly, and keeps short " +
      "docs whole") {
    import graft.ext.TextAnalysis
    val d = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens: 2 chunks
      (2L, (1 to 8).map(i => s"u$i").mkString(" ")), // exactly one window
      (3L, "a b"), // shorter than one window
      (4L, (1 to 13).map(i => s"v$i").mkString(" "))) // short tail chunk
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(d, chunkTokens = 8, overlap = 4)
      .orderBy($"doc_id", $"chunk_idx")
      .as[(Long, Int, String, Long)].collect().toSeq
    val byDoc = out.groupBy(_._1)
    // doc 1 (len 10, step 4): starts 1, 5 → [t1..t8], [t5..t10]
    assert(byDoc(1L).map(_._3) == Seq(
      (1 to 8).map(i => s"t$i").mkString(" "),
      (5 to 10).map(i => s"t$i").mkString(" ")))
    assert(byDoc(1L).map(_._4) == Seq(8L, 6L))
    // doc 2 (len 8): exactly one full window
    assert(byDoc(2L) == Seq((2L, 0, (1 to 8).map(i => s"u$i").mkString(" "), 8L)))
    // doc 3: shorter than one window → one whole-doc chunk
    assert(byDoc(3L) == Seq((3L, 0, "a b", 2L)))
    // doc 4 (len 13): starts 1, 5, 9 — tail chunk runs short, no token lost
    assert(byDoc(4L).map(_._4) == Seq(8L, 8L, 5L))
    // chunk_idx is dense from 0 and consecutive full chunks share exactly
    // `overlap` tokens
    byDoc.values.foreach { chunks =>
      assert(chunks.map(_._2) == chunks.indices.map(identity))
      chunks.sliding(2).foreach {
        case Seq(a, b) =>
          val at = a._3.split(" ").toSeq
          val bt = b._3.split(" ").toSeq
          assert(at.takeRight(4).zip(bt.take(4)).forall(p => p._1 == p._2)
            || b._4 < 8, s"overlap violated between $a and $b")
        case _ => ()
      }
    }
    // every token of every doc appears in at least one chunk, in order
    for ((id, text) <- Seq((1L, 10), (4L, 13))) {
      val all = byDoc(id).flatMap(_._3.split(" ")).distinct
      assert(all.size == text)
    }
  }

  test("ensureIvfIndex builds once, reuses on unchanged data, rebuilds " +
      "when the corpus or params change") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-ensure")
      .toString
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-ivf-corpus").toString
    def writeCorpus(scale: Float): Unit =
      (0 until 40).map(i => (i.toLong,
        Seq(math.cos(i * 0.3f) * scale, math.sin(i * 0.3f), 0.1f * (i % 5))
          .map(_.toFloat)))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(corpusDir)
    writeCorpus(1.0f)
    val v1 = spark.read.parquet(corpusDir)
    assert(Similarity.ensureIvfIndex(v1, dir, nCentroids = 4),
      "first ensure must build")
    val firstProbe = Similarity
      .topKIvfIndexed(dir, v1.filter($"vec_id" < 2), 5)
      .collect().map(_.toString).sorted.toSeq
    assert(!Similarity.ensureIvfIndex(v1, dir, nCentroids = 4),
      "unchanged (data, params) must reuse the index at rest")
    assert(Similarity.ensureIvfIndex(v1, dir, nCentroids = 5),
      "changed params must rebuild")
    // rewritten corpus under the same path → data fingerprint changes
    writeCorpus(3.0f)
    val v2 = spark.read.parquet(corpusDir)
    assert(Similarity.ensureIvfIndex(v2, dir, nCentroids = 5),
      "rewritten corpus files must invalidate the stamp")
    // the reused path serves the same probe results as a fresh build
    val freshDir = java.nio.file.Files
      .createTempDirectory("graft-ivf-fresh").toString
    Similarity.writeIvfIndex(v2, freshDir, nCentroids = 5)
    val a = Similarity.topKIvfIndexed(dir, v2.filter($"vec_id" < 2), 5)
      .collect().map(_.toString).sorted.toSeq
    val b = Similarity.topKIvfIndexed(freshDir, v2.filter($"vec_id" < 2), 5)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
    assert(firstProbe.nonEmpty)
  }

  test("adaptiveNprobe holds the probed corpus fraction as k scales " +
      "(the read-side complement of the adaptive cell count)") {
    // fixed nprobe = probed fraction shrinking as 2/k; the adaptive
    // dial keeps ~frac of cells probed at any k, floored and capped
    assert(Similarity.adaptiveNprobe(8) == 2) // floor binds at tiny k
    assert(Similarity.adaptiveNprobe(800) == 8) // 1% of 800
    assert(Similarity.adaptiveNprobe(4096) == 41) // 1% of 4096
    assert(Similarity.adaptiveNprobe(4096, frac = 0.05) == 205)
    assert(Similarity.adaptiveNprobe(4, frac = 0.9) == 4,
      "never more probes than cells")
    intercept[IllegalArgumentException] {
      Similarity.adaptiveNprobe(0)
    }
  }

  test("x149 IVF hier profile: at-rest rows equal the hier-trained " +
      "coarse assignment of the corpus") {
    import graft.ext.IndexProfile
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-hier")
      .toString
    val k = Similarity.adaptiveCellCount(emb)
    assert(Similarity.ensureIvfIndex(emb, dir, nCentroids = k,
      profile = IndexProfile.Production(hierTrain = true)))
    val cents = Similarity.trainCentroidsHier(emb, k, 50 * k)
    val atRest = spark.read.parquet(dir)
      .select(col("cid"), col("cell").cast("long").as("cell"))
      .as[(Long, Long)].collect().toSet
    val live = Similarity.assignCellsCoarse(emb, cents)
      .select(col("cid"), col("cell"))
      .as[(Long, Long)].collect().toSet
    assert(atRest == live && live.nonEmpty)
    // hier vs sampled IVF stamps are distinct trainers too
    assert(Similarity.ensureIvfIndex(emb, dir, nCentroids = k,
      profile = IndexProfile.Production()),
      "trainer switch must invalidate the IVF stamp")
  }

  test("IVF production profile: at-rest rows equal the sampled+coarse " +
      "assignment of the corpus, the profile is stamped (switch " +
      "rebuilds), and a production extension assigns the batch through " +
      "the same route") {
    import graft.ext.IndexProfile
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-prod")
      .toString
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-ivf-prod-corpus").toString
    (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(corpusDir)
    val v1 = spark.read.parquet(corpusDir)
    val prod = IndexProfile.Production()
    assert(Similarity.ensureIvfIndex(v1, dir, nCentroids = 4,
      profile = prod), "first ensure must build")
    assert(!Similarity.ensureIvfIndex(v1, dir, nCentroids = 4,
      profile = prod), "unchanged (data, params, profile) must reuse")
    // at-rest (vec_id, cell) rows == live sampled+coarse composition
    val cents = Similarity.trainCentroidsSampled(v1, 4, 50 * 4)
    val atRest = spark.read.parquet(dir)
      .select(col("cid"), col("cell").cast("long").as("cell"))
      .as[(Long, Long)].collect().toSet
    val live = Similarity.assignCellsCoarse(v1, cents)
      .select(col("cid"), col("cell"))
      .as[(Long, Long)].collect().toSet
    assert(atRest == live && live.nonEmpty)
    // profile is stamped: same (data, params) under Exact rebuilds
    assert(Similarity.ensureIvfIndex(v1, dir, nCentroids = 4),
      "profile switch must invalidate the stamp")
    // production extension appends through the same coarse route
    val d2 = java.nio.file.Files.createTempDirectory("graft-ivf-prod2")
      .toString
    val base = v1.filter(col("vec_id") < 40)
    val batch = v1.filter(col("vec_id") >= 40)
    assert(Similarity.ensureIvfIndex(base, d2, nCentroids = 4,
      profile = prod))
    assert(Similarity.extendIvfIndex(base, batch, d2, nCentroids = 4,
      profile = prod), "matching base stamp must extend")
    val baseCents = Similarity.trainCentroidsSampled(base, 4, 50 * 4)
    val ext = spark.read.parquet(d2)
      .select(col("cid"), col("cell").cast("long").as("cell"))
      .as[(Long, Long)].collect().toSet
    val scratch = Similarity.assignCellsCoarse(v1, baseCents)
      .select(col("cid"), col("cell"))
      .as[(Long, Long)].collect().toSet
    assert(ext == scratch && scratch.nonEmpty)
  }

  test("ensureKnnIndex builds once, reuses on unchanged data, rebuilds " +
      "when the corpus or params change; at-rest edges equal the live " +
      "session-cached build") {
    val dir = java.nio.file.Files.createTempDirectory("graft-knn-ensure")
      .toString
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-knn-corpus").toString
    def writeCorpus(scale: Float): Unit =
      (0 until 60).map(i => (i.toLong,
        Seq(math.cos(i * 0.3f) * scale, math.sin(i * 0.3f), 0.1f * (i % 5))
          .map(_.toFloat)))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(corpusDir)
    writeCorpus(1.0f)
    val v1 = spark.read.parquet(corpusDir)
    assert(Similarity.ensureKnnIndex(v1, dir, k = 3),
      "first ensure must build")
    assert(!Similarity.ensureKnnIndex(v1, dir, k = 3),
      "unchanged (data, params) must reuse the edges at rest")
    // the at-rest edges equal the session-cached live build over the
    // same adaptive-cell centroids
    val atRest = Similarity.readKnnEdges(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    val live = Similarity.cachedKnnEdges(v1,
      Similarity.trainCentroids(v1, Similarity.adaptiveCellCount(v1)), 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(atRest == live)
    // the centroid sidecar round-trips as a usable centroids relation
    val cents = Similarity.readKnnCentroids(spark, dir)
    assert(cents.columns.toSeq == Seq("vec_id", "embedding"))
    assert(cents.count() >= 1)
    assert(Similarity.ensureKnnIndex(v1, dir, k = 4),
      "changed params must rebuild")
    writeCorpus(3.0f)
    val v2 = spark.read.parquet(corpusDir)
    assert(Similarity.ensureKnnIndex(v2, dir, k = 4),
      "rewritten corpus files must invalidate the stamp")
  }

  test("x144 production-profile at-rest kNN index: edges equal the " +
      "sampled+coarse composition from scratch; the profile is part of " +
      "the stamp (switching rebuilds); a production extension assigns " +
      "the batch through the same two-level route") {
    import graft.ext.IndexProfile
    val dir = java.nio.file.Files.createTempDirectory("graft-knn-prod")
      .toString
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-knn-prod-corpus").toString
    (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(corpusDir)
    val v1 = spark.read.parquet(corpusDir)
    val prod = IndexProfile.Production()
    assert(Similarity.ensureKnnIndex(v1, dir, k = 3, profile = prod),
      "first ensure must build")
    assert(!Similarity.ensureKnnIndex(v1, dir, k = 3, profile = prod),
      "unchanged (data, params, profile) must reuse the index at rest")
    // at-rest production edges == sampled training + coarse assignment
    // + cell-local edges, composed live — the x144 oracle's relation
    val kc = Similarity.adaptiveCellCount(v1)
    val cents = Similarity.trainCentroidsSampled(v1, kc, 50 * kc)
    val atRest = Similarity.readKnnEdges(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    val live = Similarity
      .knnEdges(Similarity.assignCellsCoarse(v1, cents), 3)
      .select(col("cid"), col("cell"), col("nid"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(atRest == live && live.nonEmpty)
    // the profile is a stamped hyperparameter: the same (data, k)
    // under the EXACT profile must rebuild, not adopt the sampled index
    assert(Similarity.ensureKnnIndex(v1, dir, k = 3),
      "profile switch must invalidate the stamp")
    // production extension: batch assigned through the same coarse
    // route against the frozen at-rest model; extended edges equal a
    // from-scratch frozen-model production build over the union
    val d2 = java.nio.file.Files.createTempDirectory("graft-knn-prod2")
      .toString
    val base = v1.filter(col("vec_id") < 40)
    val batch = v1.filter(col("vec_id") >= 40)
    assert(Similarity.ensureKnnIndex(base, d2, k = 3, profile = prod))
    assert(Similarity.extendKnnIndex(base, batch, d2, k = 3,
      profile = prod), "matching base stamp must extend")
    val kb = Similarity.adaptiveCellCount(base)
    val baseCents = Similarity.trainCentroidsSampled(base, kb, 50 * kb)
    val ext = Similarity.readKnnEdges(spark, d2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val scratch = Similarity
      .knnEdges(Similarity.assignCellsCoarse(v1, baseCents), 3)
      .select(col("cid"), col("cell"), col("nid"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(ext == scratch && scratch.nonEmpty)
  }

  test("x148 hier-trained production index: edges equal the " +
      "coarse-restricted-Lloyd + coarse-assignment composition from " +
      "scratch; the hier token is stamped (switching trainers " +
      "rebuilds); a hier extension assigns through the same frozen-" +
      "model route; and the trained model stays retrieval-comparable") {
    import graft.ext.IndexProfile
    val dir = java.nio.file.Files.createTempDirectory("graft-knn-hier")
      .toString
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-knn-hier-corpus").toString
    (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(corpusDir)
    val v1 = spark.read.parquet(corpusDir)
    val hier = IndexProfile.Production(hierTrain = true)
    assert(Similarity.ensureKnnIndex(v1, dir, k = 3, profile = hier),
      "first ensure must build")
    assert(!Similarity.ensureKnnIndex(v1, dir, k = 3, profile = hier),
      "unchanged (data, params, profile) must reuse the index at rest")
    // at-rest hier edges == hier training + coarse assignment +
    // cell-local edges, composed live — the x148 oracle's relation
    val kc = Similarity.adaptiveCellCount(v1)
    val cents = Similarity.trainCentroidsHier(v1, kc, 50 * kc)
    val atRest = Similarity.readKnnEdges(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    val live = Similarity
      .knnEdges(Similarity.assignCellsCoarse(v1, cents), 3)
      .select(col("cid"), col("cell"), col("nid"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(atRest == live && live.nonEmpty)
    // hier vs sampled are DISTINCT stamped trainers: the same (data,
    // k) under the sampled profile must rebuild, not adopt hier cells
    assert(Similarity.ensureKnnIndex(v1, dir, k = 3,
      profile = IndexProfile.Production()),
      "trainer switch must invalidate the stamp")
    // hier extension: frozen-model equality through the same route
    val d2 = java.nio.file.Files.createTempDirectory("graft-knn-hier2")
      .toString
    val base = v1.filter(col("vec_id") < 40)
    val batch = v1.filter(col("vec_id") >= 40)
    assert(Similarity.ensureKnnIndex(base, d2, k = 3, profile = hier))
    assert(Similarity.extendKnnIndex(base, batch, d2, k = 3,
      profile = hier), "matching base stamp must extend")
    val kb = Similarity.adaptiveCellCount(base)
    val baseCents = Similarity.trainCentroidsHier(base, kb, 50 * kb)
    val ext = Similarity.readKnnEdges(spark, d2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val scratch = Similarity
      .knnEdges(Similarity.assignCellsCoarse(v1, baseCents), 3)
      .select(col("cid"), col("cell"), col("nid"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(ext == scratch && scratch.nonEmpty)
    // quality parity on the real embeddings corpus: the coarse-
    // restricted trainer may not silently degrade the model it speeds
    // up (the k=4096 measurement read -0.0011; floor it loosely)
    val k = Similarity.adaptiveCellCount(emb)
    val qS = Similarity.meanAssignedCosine(emb,
      Similarity.trainCentroidsSampled(emb, k, 50 * k))
    val qH = Similarity.meanAssignedCosine(emb,
      Similarity.trainCentroidsHier(emb, k, 50 * k))
    assert(qH >= qS - 0.02,
      s"hier training quality floor breached: $qH vs sampled $qS")
  }

  test("extendKnnIndex 90/10 production shape: a small batch rewrites " +
      "ONLY its touched cell= edge partitions (untouched partitions " +
      "keep their exact files) and edges equal the frozen-model build") {
    val dir = java.nio.file.Files.createTempDirectory("graft-knn-9010")
      .toString
    // 5 well-separated clusters; the 10% batch lands entirely in
    // cluster 0, so the extension must touch a strict subset of cells
    def pt(c: Int, j: Int): Seq[Float] = {
      val a = c * 2 * math.Pi / 5
      Seq((math.cos(a) + 0.01 * (j % 3)).toFloat,
        (math.sin(a) + 0.01 * (j % 5)).toFloat, 0.0f)
    }
    val base = (0 until 90).map(i => (i.toLong, pt(i % 5, i)))
      .toDF("vec_id", "embedding")
    val batch = (90 until 100).map(i => (i.toLong, pt(0, i)))
      .toDF("vec_id", "embedding")
    assert(Similarity.ensureKnnIndex(base, dir, k = 3))
    def edgeFiles(): Map[String, Set[(String, Long, Long)]] =
      new java.io.File(s"$dir/edges").listFiles()
        .filter(_.getName.startsWith("cell=")).map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length, f.lastModified)).toSet
        }.toMap
    val before = edgeFiles()
    assert(before.size >= 3, s"need several cells, got ${before.size}")
    assert(Similarity.extendKnnIndex(base, batch, dir, k = 3),
      "matching base stamp must extend")
    val touched = Similarity
      .cellAssignments(batch, Similarity.readKnnCentroids(spark, dir))
      .select($"cell").distinct().as[Long].collect()
      .map(c => s"cell=$c").toSet
    assert(touched.nonEmpty && touched.size < before.size,
      s"batch must touch a strict subset of cells: $touched")
    val after = edgeFiles()
    // per-batch write work ∝ touched-cell mass: dynamic partition
    // overwrite must leave every untouched cell's files byte-for-byte
    // alone (same names, lengths, mtimes)
    (before.keySet -- touched).foreach { c =>
      assert(after(c) == before(c),
        s"untouched partition $c was rewritten by the extension")
    }
    touched.foreach { c =>
      assert(after.contains(c) && after(c) != before.getOrElse(c, Set()),
        s"touched partition $c was not recomputed")
    }
    // and the result still equals the frozen-model from-scratch build
    val baseCents = Similarity.trainCentroids(base,
      Similarity.adaptiveCellCount(base))
    val inc = Similarity.readKnnEdges(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    val scratch = Similarity
      .cachedKnnEdges(base.union(batch), baseCents, 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(inc == scratch && scratch.nonEmpty)
  }

  test("extendKnnIndex: incremental edges equal a from-scratch build " +
      "over the union with the base centroids; repeat extend no-ops; " +
      "ensure over the union re-trains (model drift)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-knn-ext")
      .toString
    val all = (0 until 80).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val base = all.filter($"vec_id" < 50)
    val batch = all.filter($"vec_id" >= 50)
    assert(Similarity.ensureKnnIndex(base, dir, k = 3))
    assert(Similarity.extendKnnIndex(base, batch, dir, k = 3),
      "matching base stamp must extend")
    // cell-local edges: incremental == from-scratch over the union
    // with the SAME (base-trained) centroids
    val inc = Similarity.readKnnEdges(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    val baseCents = Similarity.trainCentroids(base,
      Similarity.adaptiveCellCount(base))
    val scratch = Similarity.cachedKnnEdges(all, baseCents, 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(inc == scratch && scratch.nonEmpty)
    // the at-rest assignment relation rolled forward with the batch
    assert(spark.read.parquet(s"$dir/cells").count() == all.count())
    // a repeat extend over the same (base, batch) is an idempotent no-op
    assert(!Similarity.extendKnnIndex(base, batch, dir, k = 3))
    // an ensure over the union sees the model term drift (centroids
    // were trained on the base, not the union) and re-trains — the
    // corpus part of the stamp MATCHES (same plan), so this isolates
    // exactly the model discipline
    assert(Similarity.ensureKnnIndex(base.union(batch), dir, k = 3),
      "ensure over the extended union must re-train, not adopt the " +
        "frozen base model")
    val retrained = Similarity.readKnnEdges(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    val unionCents = Similarity.trainCentroids(all,
      Similarity.adaptiveCellCount(all))
    val expected = Similarity.cachedKnnEdges(all, unionCents, 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(retrained == expected)
    // an index already covering the union (under ANY model) no-ops
    assert(!Similarity.extendKnnIndex(base, batch, dir, k = 3))
    // a foreign base (stamp mismatch, union not covered) full-rebuilds
    val otherBase = all.filter($"vec_id" < 20)
    val otherBatch = all.filter($"vec_id" >= 20 && $"vec_id" < 60)
    assert(Similarity.extendKnnIndex(otherBase, otherBatch, dir, k = 3),
      "stamp mismatch must rebuild over the new union")
    val rebuilt = Similarity.readKnnEdges(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    val sub = all.filter($"vec_id" < 60)
    val subCents = Similarity.trainCentroids(sub,
      Similarity.adaptiveCellCount(sub))
    assert(rebuilt == Similarity.cachedKnnEdges(sub, subCents, 3)
      .as[(Long, Long, Long, Double)].collect().toSet)
  }

  test("extendIvfIndex: appended rows equal the base-centroid " +
      "assignment of the batch; repeat no-ops; ensure re-trains") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-ext")
      .toString
    val all = (0 until 80).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val base = all.filter($"vec_id" < 50)
    val batch = all.filter($"vec_id" >= 50)
    assert(Similarity.ensureIvfIndex(base, dir, nCentroids = 4))
    assert(Similarity.extendIvfIndex(base, batch, dir, nCentroids = 4),
      "matching base stamp must extend")
    // the extended index rows == base-trained assignment of the union
    val baseCents = Similarity.trainCentroids(base, 4)
    val expected = Similarity.cellAssignments(all, baseCents)
      .as[(Long, Long)].collect().toSet
    val atRest = spark.read.parquet(dir)
      .select($"cid", $"cell".cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(atRest == expected && expected.nonEmpty)
    // a repeat extend is an idempotent no-op (no double-append)
    assert(!Similarity.extendIvfIndex(base, batch, dir, nCentroids = 4))
    assert(spark.read.parquet(dir).count() == all.count())
    // a probe over the EXTENDED index (appended files in the cell=
    // dirs) still partition-prunes — the at-rest layout's point
    // survives extension
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val nCells = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("cell="))
    val probe = Similarity.topKIvfIndexed(dir,
      all.filter($"vec_id" === 60), 5)
    probe.collect()
    val idxScans = scans(probe.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "cell"))
    assert(idxScans.nonEmpty)
    idxScans.foreach { s =>
      assert(s.selectedPartitions.partitionCount <= 2 &&
        s.selectedPartitions.partitionCount < nCells,
        "extended-index probe must still prune cell= partitions")
    }
    // an ensure over the union re-trains (model drift), then covers it
    assert(Similarity.ensureIvfIndex(base.union(batch), dir,
      nCentroids = 4), "ensure over the extended union must re-train")
    assert(!Similarity.ensureIvfIndex(base.union(batch), dir,
      nCentroids = 4))
  }

  test("index compaction: over-budget cell partitions rewrite to one " +
      "file with identical values, under-budget cells stay " +
      "byte-identical, the stamp survives (repeat extend no-ops), and " +
      "a within-budget call is a lock-free no-op — IVF and kNN faces") {
    import graft.ext.{IndexProfile, Similarity}
    val all = (0 until 80).map(i => (i.toLong,
      Seq(math.cos(i * 0.3f), math.sin(i * 0.3f), 0.1f * (i % 5))
        .map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val base = all.filter($"vec_id" < 40)
    val b1 = all.filter($"vec_id" >= 40 && $"vec_id" < 60)
    val b2 = all.filter($"vec_id" >= 60)
    val prod = IndexProfile.Production()
    def fileMap(root: java.io.File): Map[String, Set[(String, Long, Long)]] =
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length, f.lastModified)).toSet)
        .toMap

    // ---- IVF face ----
    val ivf = java.nio.file.Files
      .createTempDirectory("graft-ivf-compact").toString
    assert(Similarity.ensureIvfIndex(base, ivf, nCentroids = 4,
      profile = prod))
    assert(Similarity.extendIvfIndex(base, b1, ivf, nCentroids = 4,
      profile = prod))
    assert(Similarity.extendIvfIndex(base.union(b1), b2, ivf,
      nCentroids = 4, profile = prod),
      "chained extension over the stamped union plan must extend")
    val ivfRoot = new java.io.File(ivf)
    val before = fileMap(ivfRoot)
    assert(before.values.exists(_.size > 1),
      "fixture must accrete >1 file in some cell before compaction")
    val q = all.filter($"vec_id" < 5)
    val probeBefore = Similarity.topKIvfIndexed(ivf, q, 5)
      .collect().map(_.toString).sorted.toSeq
    val rows = spark.read.parquet(ivf)
      .select($"cid", $"cell".cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(Similarity.compactIvfIndex(spark, ivf, maxFilesPerCell = 1),
      "over-budget index must compact")
    val after = fileMap(ivfRoot)
    assert(after.keySet == before.keySet,
      "compaction must not add or drop cell partitions")
    before.foreach { case (cell, files) =>
      if (files.size <= 1)
        assert(after(cell) == files,
          s"under-budget $cell must stay byte-identical")
      else assert(after(cell).size == 1,
        s"over-budget $cell must compact to one file")
    }
    assert(spark.read.parquet(ivf)
      .select($"cid", $"cell".cast("long"))
      .as[(Long, Long)].collect().toSet == rows,
      "compaction must be value-invisible")
    assert(Similarity.topKIvfIndexed(ivf, q, 5)
      .collect().map(_.toString).sorted.toSeq == probeBefore)
    assert(!Similarity.extendIvfIndex(base.union(b1), b2, ivf,
      nCentroids = 4, profile = prod),
      "compaction must preserve the union stamp (repeat extend no-ops)")
    assert(!Similarity.compactIvfIndex(spark, ivf, maxFilesPerCell = 1),
      "a within-budget index must no-op")
    assert(!new java.io.File(ivf + "__compact_tmp").exists(),
      "staging must not outlive the compaction")

    // ---- kNN face: only cells/ accretes; edges are untouched ----
    val knn = java.nio.file.Files
      .createTempDirectory("graft-knn-compact").toString
    assert(Similarity.ensureKnnIndex(base, knn, k = 3, profile = prod))
    assert(Similarity.extendKnnIndex(base, b1, knn, k = 3,
      profile = prod))
    assert(Similarity.extendKnnIndex(base.union(b1), b2, knn, k = 3,
      profile = prod))
    val cellsRoot = new java.io.File(knn, "cells")
    val cellsBefore = fileMap(cellsRoot)
    assert(cellsBefore.values.exists(_.size > 1))
    val edgesBefore = fileMap(new java.io.File(knn, "edges"))
    val edgeRows = Similarity.readKnnEdges(spark, knn)
      .as[(Long, Long, Long, Double)].collect().toSet
    val memberRows = spark.read.parquet(s"$knn/cells")
      .select($"cid", $"cell".cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(Similarity.compactKnnIndex(spark, knn, maxFilesPerCell = 1))
    val cellsAfter = fileMap(cellsRoot)
    assert(cellsAfter.keySet == cellsBefore.keySet)
    cellsBefore.foreach { case (cell, files) =>
      if (files.size <= 1) assert(cellsAfter(cell) == files)
      else assert(cellsAfter(cell).size == 1)
    }
    assert(fileMap(new java.io.File(knn, "edges")) == edgesBefore,
      "the edge relation must not be touched by a cells compaction")
    assert(Similarity.readKnnEdges(spark, knn)
      .as[(Long, Long, Long, Double)].collect().toSet == edgeRows)
    assert(spark.read.parquet(s"$knn/cells")
      .select($"cid", $"cell".cast("long"))
      .as[(Long, Long)].collect().toSet == memberRows)
    assert(!Similarity.extendKnnIndex(base.union(b1), b2, knn, k = 3,
      profile = prod),
      "compaction must preserve the kNN union stamp")
    assert(!Similarity.compactKnnIndex(spark, knn, maxFilesPerCell = 1))
  }

  test("flat-relation compaction (prefix/bands/chunks): over-budget " +
      "accreted relations re-bucket to a bounded file count with rows " +
      "unchanged, the non-accreting relations stay byte-identical, the " +
      "stamp survives (repeat extend no-ops), and within-budget calls " +
      "are lock-free no-ops") {
    import graft.ext.Dedup
    val all = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta gamma delta epsilon eta"),
      (3L, "s2", "totally different text entirely other words here"),
      (10L, "s1", "alpha beta gamma delta epsilon theta"),
      (11L, "s2", "totally different text entirely other words also"),
      (12L, "s2", "an unrelated singleton document body of words"))
      .toDF("doc_id", "source", "text")
    val base = all.filter($"doc_id" < 10)
    val batch = all.filter($"doc_id" >= 10)
    def files(dir: java.io.File): Set[(String, Long, Long)] =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    def rows(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

    // exact index: prefix accretes, pairs/clusters are overwritten
    val d1 = java.nio.file.Files
      .createTempDirectory("graft-flat-exact").toString
    assert(Dedup.ensureDedupIndex(base, d1))
    assert(Dedup.extendDedupIndex(base, batch, d1))
    assert(files(new java.io.File(d1, "prefix")).size > 1,
      "extension must accrete prefix shards")
    val prefixRows = rows(s"$d1/prefix")
    val pairsFiles = files(new java.io.File(d1, "pairs"))
    assert(Dedup.compactDedupIndex(spark, d1, maxShards = 1))
    assert(files(new java.io.File(d1, "prefix")).size == 1)
    assert(rows(s"$d1/prefix") == prefixRows,
      "compaction must be row-invisible")
    assert(files(new java.io.File(d1, "pairs")) == pairsFiles,
      "non-accreting relations must not be touched")
    assert(!Dedup.extendDedupIndex(base, batch, d1),
      "compaction must preserve the union stamp")
    assert(!Dedup.compactDedupIndex(spark, d1, maxShards = 1))
    assert(!new java.io.File(d1, "prefix_compact_tmp").exists() &&
      !new java.io.File(d1, "prefix_compact_old").exists())

    // LSH index: bands accretes
    val d2 = java.nio.file.Files
      .createTempDirectory("graft-flat-lsh").toString
    assert(Dedup.ensureDedupIndexLsh(base, d2))
    assert(Dedup.extendDedupIndexLsh(base, batch, d2))
    assert(files(new java.io.File(d2, "bands")).size > 1)
    val bandRows = rows(s"$d2/bands")
    assert(Dedup.compactDedupIndexLsh(spark, d2, maxShards = 1))
    assert(files(new java.io.File(d2, "bands")).size == 1)
    assert(rows(s"$d2/bands") == bandRows)
    assert(!Dedup.extendDedupIndexLsh(base, batch, d2))
    assert(!Dedup.compactDedupIndexLsh(spark, d2, maxShards = 1))

    // CDC index: chunks accretes
    val d3 = java.nio.file.Files
      .createTempDirectory("graft-flat-cdc").toString
    assert(Dedup.ensureCdcIndex(base, d3))
    assert(Dedup.extendCdcIndex(base, batch, d3))
    assert(files(new java.io.File(d3, "chunks")).size > 1)
    val chunkRows = rows(s"$d3/chunks")
    val cdcPairs = Dedup.readCdcPairs(spark, d3)
      .collect().map(_.toString).sorted.toSeq
    assert(Dedup.compactCdcIndex(spark, d3, maxShards = 1))
    assert(files(new java.io.File(d3, "chunks")).size == 1)
    assert(rows(s"$d3/chunks") == chunkRows)
    assert(Dedup.readCdcPairs(spark, d3)
      .collect().map(_.toString).sorted.toSeq == cdcPairs)
    assert(!Dedup.extendCdcIndex(base, batch, d3))
    assert(!Dedup.compactCdcIndex(spark, d3, maxShards = 1))
  }

  test("x128 production composition with all coarse groups probed " +
      "equals the exact knnGraph over the same sampled centroids") {
    // with nprobeGroups = #groups the two-level route IS the flat
    // argmax, so the composed production graph must equal knnGraph
    // (same sampled centroids) row for row — the lossless-composition
    // gate behind the declared x128/x130 approximate defaults
    val k = Similarity.adaptiveCellCount(emb)
    val cents = Similarity.trainCentroidsSampled(emb, k, 50 * k)
    val nGroups = math.max(1,
      math.ceil(math.sqrt(cents.count().toDouble)).toInt)
    val prod = Similarity.knnGraphAssigned(
      Similarity.assignCellsCoarse(emb, cents, nprobeGroups = nGroups), 5)
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet
    val exact = Similarity.knnGraph(emb, cents, 5)
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet
    assert(prod == exact)
    val prodDedup = Similarity.semanticDedupAssigned(
      Similarity.assignCellsCoarse(emb, cents, nprobeGroups = nGroups), 0.4)
      .as[(Long, Long, Boolean)].collect().toSet
    val exactDedup = Similarity.semanticDedup(emb, 0.4, cents)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(prodDedup == exactDedup)
  }

  test("x129 capped winnow pairs are a subset of x41's uncapped pairs " +
      "with n_shared never above the uncapped count") {
    val uncapped = Dedup.substringOverlapPairs(docs, 16, 8, 10)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    val capped = Dedup.substringOverlapPairs(docs, 16, 8, 10,
      maxDf = Some(100))
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(capped.nonEmpty, "testdata should keep sub-cap overlap pairs")
    capped.foreach { case (pair, n) =>
      assert(uncapped.contains(pair),
        s"capped pair $pair absent from the uncapped relation")
      assert(n <= uncapped(pair),
        s"cap must only remove shared fingerprints for $pair")
    }
  }

  test("x132 auto-width simhash picks 60 bits on a dispersed corpus " +
      "and 120 on the saturated testdata") {
    // disjoint vocabularies -> dispersed fingerprints -> ~zero measured
    // combo-key collision mass -> the cheap 60-bit default
    val clean = (0 until 24).map(i =>
      (i.toLong, "s", s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"))
      .toDF("doc_id", "source", "text")
    val cleanEst = Dedup.estimateSimhashCollisionsPerDoc(clean)
    assert(cleanEst <= 32, s"dispersed corpus must read sub-cutoff: $cleanEst")
    assert(Dedup.simhashNearDupAuto(clean)
      .as[(Long, Long, Int)].collect().toSet ==
      Dedup.simhashNearDup(clean)
        .as[(Long, Long, Int)].collect().toSet)
    // the ~40-word-vocabulary testdata concentrates 60-bit Hamming
    // distances (the x82 saturation SCALE.md measures) -> the probe
    // reads far past the cutoff -> the wide fingerprint runs
    val satEst = Dedup.estimateSimhashCollisionsPerDoc(docs)
    assert(satEst > 32,
      s"bounded-vocabulary testdata must read past the cutoff: $satEst")
    val auto = Dedup.simhashNearDupAuto(docs)
      .as[(Long, Long, Int)].collect().toSet
    val wide = Dedup.simhashNearDupWide(docs)
      .as[(Long, Long, Int)].collect().toSet
    assert(auto == wide)
  }

  test("x135 boilerplate fraction flags exactly the >5%-df shingles") {
    import graft.ext.TextAnalysis
    // 30 docs share a 4-token header (2 of each doc's 5 shingles are
    // corpus-wide: df 30, 30·20 > 30); the other 3 ride unique tokens
    // (df 1, 1·20 <= 30)
    val fix = (0 until 30).map(i =>
      (i.toLong, "s", s"terms of service apply u${i}x u${i}y u${i}z"))
      .toDF("doc_id", "source", "text")
    val r = TextAnalysis.boilerplateStats(fix)
      .as[(Long, Long, Long, Double)].collect()
    assert(r.length == 30)
    r.foreach { case (_, nsg, nb, fr) =>
      assert(nsg == 5 && nb == 2 && fr == 0.4)
    }
    // a doc shorter than n tokens carries no row (documented contract)
    val short = fix.union(Seq((99L, "s", "too short"))
      .toDF("doc_id", "source", "text"))
    assert(!TextAnalysis.boilerplateStats(short)
      .as[(Long, Long, Long, Double)].collect().exists(_._1 == 99L))
  }

  test("x134 source minhash matrix reads 1.0 on identical sources, 0.0 " +
      "on disjoint ones, and tracks exact source Jaccard on testdata") {
    val fix = Seq(
      (0L, "s1", "alpha beta gamma delta epsilon zeta"),
      (1L, "s1", "one two three four five six"),
      (2L, "s2", "alpha beta gamma delta epsilon zeta"),
      (3L, "s2", "one two three four five six"),
      (4L, "s3", "completely different words appearing here entirely " +
        "novel tokens"))
      .toDF("doc_id", "source", "text")
    val m = Dedup.sourceMinhashMatrix(fix)
      .as[(String, String, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(m(("s1", "s2")) == 1.0)
    assert(m(("s1", "s3")) == 0.0 && m(("s2", "s3")) == 0.0)
    // exact Jaccard over the SAME mod-M hashed universe the sketch
    // declares; k = 64 slots → s.e. ≤ 1/8, so 0.25 is a ±2σ band and
    // the run is deterministic (fixed literal hash family)
    val sets = Dedup.shingled(docs, 3)
      .select($"doc_id", explode($"sg").as("sg"))
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .select($"source",
        (graft.ext.TextAnalysis.hash60($"sg") % Dedup.MinhashMod).as("x"))
      .distinct().as[(String, Long)].collect()
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    val est = Dedup.sourceMinhashMatrix(docs)
      .as[(String, String, Double)].collect()
    assert(est.nonEmpty)
    val errs = est.map { case (a, b, j) =>
      val exact = (sets(a) & sets(b)).size.toDouble /
        (sets(a) | sets(b)).size
      math.abs(j - exact)
    }
    assert(errs.max <= 0.25, s"worst slot-agreement error ${errs.max}")
    assert(errs.sum / errs.length <= 0.08,
      s"mean estimator error ${errs.sum / errs.length}")
  }

  test("x140 CDC containment: finds a snippet embedded at an arbitrary " +
      "offset where fixed-stride chunk fingerprints share nothing") {
    import graft.ext.TextAnalysis
    val snippet = (0 until 64).map(i => s"tok$i").mkString(" ")
    val container = ((0 until 30).map(i => s"pre$i") ++
      Seq(snippet) ++ (0 until 30).map(i => s"post$i")).mkString(" ")
    val unrelated = (0 until 64).map(i => s"other$i").mkString(" ")
    val fix = Seq((1L, "s", snippet), (2L, "s", container),
      (3L, "s", unrelated), (4L, "s", snippet))
      .toDF("doc_id", "source", "text")
    val pairs = Dedup.cdcContainmentPairs(fix, p = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    // the snippet's interior CDC chunks survive embedding at offset 30
    assert(pairs.contains((1L, 2L)),
      s"snippet-in-doc pair missing: $pairs")
    assert(pairs((1L, 2L)) >= 0.5)
    // exact duplicates share every chunk
    assert(pairs((1L, 4L)) == 1.0)
    // the unrelated doc pairs with nothing
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
    // fixed-stride chunking CANNOT see the same embedding: the offset
    // shifts every boundary, so no chunk fingerprint is shared — the
    // measured reason cdcChunks exists
    val strided = TextAnalysis.chunkDocs(fix.filter($"doc_id" <= 2), 32, 0)
      .select($"doc_id", md5($"chunk_text").as("fp"))
    val sharedStride = strided.filter($"doc_id" === 1)
      .join(strided.filter($"doc_id" === 2), "fp").count()
    assert(sharedStride == 0L)
    // the hot-chunk cap is semantics-bearing: a footer shared by every
    // doc is boilerplate, not snippet signal — with it capped out, the
    // otherwise-unrelated docs pair with nothing; uncapped, the footer
    // alone manufactures "containment"
    val footer = "terms of service apply all rights reserved contact us"
    val boiler = Seq(
      (21L, "s", s"completely distinct alpha words here $footer"),
      (22L, "s", s"other unrelated beta content body $footer"),
      (23L, "s", s"third page gamma different entirely $footer"))
      .toDF("doc_id", "source", "text")
    assert(Dedup.cdcContainmentPairs(boiler, p = 8, threshold = 0.5,
      maxDf = Some(2L)).count() == 0)
    assert(Dedup.cdcContainmentPairs(boiler, p = 8, threshold = 0.5,
      maxDf = None).count() > 0)
  }

  test("x123 prefix-filtered containment pairs equal the brute " +
      "all-pairs computation (snippet-in-doc, equal-size tie, testdata)") {
    def brute(d: org.apache.spark.sql.DataFrame, t: Double) = {
      val sg = Dedup.shingled(d, 3)
      val a = sg.select($"doc_id".as("da"), $"sg".as("sga"))
      val b = sg.select($"doc_id".as("db"), $"sg".as("sgb"))
      a.join(b, $"da" < $"db")
        .select($"da", $"db",
          round(size(array_intersect($"sga", $"sgb")).cast("double") /
            least(size($"sga"), size($"sgb")), 6).as("cont"))
        .filter($"cont" >= t)
        .as[(Long, Long, Double)].collect().toSet
    }
    // a snippet fully contained in a larger doc (containment 1.0 where
    // Jaccard would read ~0.3), an equal-size near-identical pair (the
    // min-side tie both prefixes could generate), and noise
    val fix = Seq(
      (0L, "s", "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "s", "intro words alpha beta gamma delta epsilon zeta eta " +
        "theta and a long tail of extra unrelated content here"),
      (2L, "s", "one two three four five six seven eight nine ten"),
      (3L, "s", "one two three four five six seven eight nine eleven"),
      (4L, "s", "completely different text with nothing shared at all"))
      .toDF("doc_id", "source", "text")
    assert(Dedup.containmentPairs(fix, 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet == brute(fix, 0.8))
    assert(Dedup.containmentPairs(docs, 3, 0.9)
      .as[(Long, Long, Double)].collect().toSet == brute(docs, 0.9))
  }

  test("x133 auto-cap winnow picks uncapped on a dispersed corpus and " +
      "the df cap on a boilerplate-saturated one") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // 32-hex-char texts with no shared 16-char run w.h.p. -> ~zero
    // measured fingerprint collision mass -> exact uncapped chain
    val clean = (0 until 24).map(i =>
      (i.toLong, "s", md5hex(s"clean:$i") + md5hex(s"tail:$i")))
      .toDF("doc_id", "source", "text")
    val cleanEst = Dedup.estimateWinnowCollisionsPerDoc(clean)
    assert(cleanEst <= 32, s"dispersed corpus must read sub-cutoff: $cleanEst")
    assert(Dedup.substringOverlapAuto(clean, minShared = 1)
      .as[(Long, Long, Long)].collect().toSet ==
      Dedup.substringOverlapPairs(clean, 16, 8, 1)
        .as[(Long, Long, Long)].collect().toSet)
    // a 64-char boilerplate run in every document: one fingerprint
    // family with df = corpus size, the exact Sigma df^2 melt the cap
    // exists for
    val boiler = (0 until 300).map(i =>
      (i.toLong, "s", ("z" * 64) + md5hex(s"b:$i")))
      .toDF("doc_id", "source", "text")
    val boilerEst = Dedup.estimateWinnowCollisionsPerDoc(boiler)
    assert(boilerEst > 32,
      s"boilerplate corpus must read past the cutoff: $boilerEst")
    assert(Dedup.substringOverlapAuto(boiler, minShared = 1)
      .as[(Long, Long, Long)].collect().toSet ==
      Dedup.substringOverlapPairs(boiler, 16, 8, 1, maxDf = Some(100))
        .as[(Long, Long, Long)].collect().toSet)
    // the declared testdata corpus: auto must equal whichever branch
    // its measured estimate selects
    val est = Dedup.estimateWinnowCollisionsPerDoc(docs)
    val expected = Dedup.substringOverlapPairs(docs, 16, 8, 10,
      maxDf = if (est > 32) Some(100L) else None)
      .as[(Long, Long, Long)].collect().toSet
    assert(Dedup.substringOverlapAuto(docs)
      .as[(Long, Long, Long)].collect().toSet == expected)
  }

  test("extendCdcIndex: incremental pairs equal the from-scratch CDC " +
      "chain over the union — including a chunk the batch pushes past " +
      "the hot cap dropping every pair it carried; repeat no-ops; " +
      "drift rebuilds") {
    import graft.ext.Dedup
    def cycle(base: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame,
        maxDf: Option[Long]): (Set[(Long, Long, Double)], String) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-cdc-ext")
        .toString
      assert(Dedup.ensureCdcIndex(base, dir, maxDf = maxDf))
      assert(Dedup.extendCdcIndex(base, batch, dir, maxDf = maxDf),
        "matching base stamp must extend")
      (Dedup.readCdcPairs(spark, dir)
        .as[(Long, Long, Double)].collect().toSet, dir)
    }
    // cross-boundary snippet: doc 10 (batch) embeds doc 0's (base)
    // 64-token stream verbatim at offset 30 (x140's proven fixture
    // shape — long enough that interior CDC chunks survive clipping)
    val seed = (0 until 64).map(i => s"tok$i").mkString(" ")
    val base = Seq(
      (0L, "s", seed),
      (1L, "s", (0 until 64).map(i => s"one$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val batch = Seq(
      (10L, "s", ((0 until 30).map(i => s"pre$i") ++ Seq(seed) ++
        (0 until 30).map(i => s"post$i")).mkString(" ")),
      (11L, "s", (0 until 64).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val (inc, dir) = cycle(base, batch, Some(100L))
    val scratch = Dedup
      .cdcContainmentPairs(base.union(batch), p = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == scratch && inc.exists { case (a, b, _) =>
      a == 0L && b == 10L }, s"cross-boundary snippet pair: $inc")
    // a repeat extend over the same (base, batch) is an idempotent no-op
    assert(!Dedup.extendCdcIndex(base, batch, dir, maxDf = Some(100L)))
    // a foreign base (stamp mismatch) falls back to a full rebuild
    val (rebuilt, _) = {
      val d2 = java.nio.file.Files.createTempDirectory("graft-cdc-ext2")
        .toString
      assert(Dedup.ensureCdcIndex(base, d2))
      val otherBase = base.union(batch).filter($"doc_id" <= 1)
      assert(Dedup.extendCdcIndex(batch, otherBase, d2),
        "stamp mismatch must rebuild over the new union")
      (Dedup.readCdcPairs(spark, d2)
        .as[(Long, Long, Double)].collect().toSet, d2)
    }
    assert(rebuilt == scratch)
    // CAP-CROSSING: three identical one-chunk docs at maxDf = 2 — the
    // base pair (20, 21) rides the only chunk; the batch's copy pushes
    // its df to 3 > 2, so the chunk becomes boilerplate and the pair
    // must DROP from the extended index, exactly as from-scratch drops
    // it (the recompute-over-union semantics, not append-only)
    val same = "zed yed xed wed ved ued"
    val b2 = Seq((20L, "s", same), (21L, "s", same))
      .toDF("doc_id", "source", "text")
    val n2 = Seq((22L, "s", same)).toDF("doc_id", "source", "text")
    val d3 = java.nio.file.Files.createTempDirectory("graft-cdc-ext3")
      .toString
    assert(Dedup.ensureCdcIndex(b2, d3, maxDf = Some(2L)))
    assert(Dedup.readCdcPairs(spark, d3).count() == 1,
      "base pair must exist while the chunk is under the cap")
    assert(Dedup.extendCdcIndex(b2, n2, d3, maxDf = Some(2L)))
    assert(Dedup.readCdcPairs(spark, d3).count() == 0,
      "the batch pushed the only chunk past the cap — every pair " +
        "riding it must drop, as a from-scratch build would")
    assert(Dedup.cdcContainmentPairs(b2.union(n2), p = 8,
      threshold = 0.5, maxDf = Some(2L)).count() == 0)
  }

  test("x143 containment audit: exact dups read recall 1.0; a " +
      "shingle-visible pair with no shared discriminative chunk is " +
      "counted in n_exact but not n_hit") {
    import graft.ext.Dedup
    // two exact duplicates: both detectors see them -> recall 1.0
    val seed = (0 until 64).map(i => s"tok$i").mkString(" ")
    val dups = Seq((0L, "s", seed), (1L, "s", seed),
      (2L, "s", (0 until 64).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    assert(Dedup.containmentAudit(dups)
      .as[(Long, Long, Double)].collect().toSeq == Seq((1L, 1L, 1.0)))
    // a SHORT doc fully contained in a long one: exact 3-shingle
    // containment reads 1.0, but at 6 tokens the doc carries ~1 CDC
    // chunk whose fp differs from the container's clipped chunks, so
    // the CDC side misses it — exactly the grain gap the audit exists
    // to measure (n_exact counts it, n_hit may not)
    val shortDoc = "alpha beta gamma delta epsilon zeta"
    val mixed = Seq(
      (0L, "s", shortDoc),
      (1L, "s", ((0 until 30).map(i => s"pre$i") :+ shortDoc)
        .mkString(" ") + " " + (0 until 30).map(i => s"post$i")
        .mkString(" ")),
      (2L, "s", (0 until 64).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val Seq((nExact, nHit, recall)) = Dedup.containmentAudit(mixed)
      .as[(Long, Long, Double)].collect().toSeq
    assert(nExact >= 1 && nHit <= nExact &&
      recall == (nHit.toDouble / nExact * 1e6).round / 1e6)
  }

  test("at-rest shingle-df index: build/reuse, extension appends the " +
      "batch's partial counts without touching base files, merged dfs " +
      "equal from-scratch, and the probe reads identical values") {
    import graft.ext.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-df-idx")
      .toString
    val base = docs.filter(col("doc_id") < 100)
    val batch = docs.filter(col("doc_id") >= 100)
    assert(Dedup.ensureShingleDfIndex(base, dir),
      "first ensure must build")
    assert(!Dedup.ensureShingleDfIndex(base, dir),
      "unchanged corpus must reuse")
    def dfFiles(): Set[(String, Long, Long)] =
      new java.io.File(s"$dir/df").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = dfFiles()
    assert(Dedup.extendShingleDfIndex(base, batch, dir),
      "matching base stamp must extend")
    // append-only: every base shard file survives byte-identical
    assert(dfFiles().intersect(before) == before,
      "extension must append a batch shard, never rewrite the base")
    // merged == from-scratch over the union (per-doc shingling makes
    // partial dfs exactly mergeable)
    val merged = Dedup.readShingleDf(spark, dir)
      .as[(String, Long)].collect().toMap
    val scratch = Dedup.shingled(docs, 3)
      .select(explode(col("sg")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect().toMap
    assert(merged == scratch && scratch.nonEmpty)
    // covered union no-ops; the probe under the at-rest relation reads
    // the same statistic as the self-derived one
    assert(!Dedup.extendShingleDfIndex(base, batch, dir))
    val live = Dedup.estimateContainmentCandidatesPerDoc(docs)
    val atRest = Dedup.estimateContainmentCandidatesPerDoc(docs,
      df = Some(Dedup.readShingleDf(spark, dir)))
    // relative tolerance, not bit-equality: the statistic is integer-
    // aggregated today, but route-invariance across physical plans
    // should not hinge on that staying true
    assert(math.abs(atRest - live) <=
      1e-12 * math.max(1.0, math.abs(live)))
    // compaction: after the extension the dir holds base+batch shards
    // (raw rows > vocabulary); compacting pre-merges them under the
    // SAME stamp — values identical, one row per shingle, and the
    // stamp still covers the union (no rebuild on the next ensure)
    val rawBefore = spark.read.parquet(s"$dir/df").count()
    assert(rawBefore > merged.size,
      "extension shards must hold duplicate shingle rows pre-compaction")
    def dfFileNames(): Set[String] = {
      val d = new java.io.File(dir, "df")
      Option(d.list()).fold(Set.empty[String])(
        _.filter(_.endsWith(".parquet")).toSet)
    }
    val filesBefore = dfFileNames()
    assert(Dedup.compactShingleDfIndex(spark, dir))
    // concurrent-reader safety is STRUCTURAL, not timing-dependent:
    // compaction replaces the ENTIRE old file set (no old shard file
    // survives and no staging dir remains), so a reader that listed
    // shards before the rename either read the old complete set or
    // fails on the vanished paths and retries — it can never assemble
    // a MIX of old and new shards (which is the one outcome that would
    // return silently wrong sums under the same stamp)
    assert(dfFileNames().intersect(filesBefore).isEmpty,
      "no pre-compaction shard file may survive the rewrite")
    assert(!new java.io.File(dir, "df_compact_tmp").exists(),
      "the staging dir must not outlive the compaction")
    assert(!new java.io.File(dir, "df_compact_old").exists(),
      "the swapped-out old set must not outlive the compaction")
    assert(spark.read.parquet(s"$dir/df").count() == merged.size)
    assert(Dedup.readShingleDf(spark, dir)
      .as[(String, Long)].collect().toMap == merged)
    assert(!Dedup.extendShingleDfIndex(base, batch, dir),
      "compaction must preserve the union stamp")
    assert(!Dedup.compactShingleDfIndex(spark,
      java.nio.file.Files.createTempDirectory("graft-df-none").toString),
      "compacting an unstamped dir must no-op")
    // the decision STATISTIC at rest: value-identical to the
    // self-derived probe, computed once (second call reads the stamped
    // sidecar), and a corpus change re-probes rather than serving the
    // stale decision
    val pDir = java.nio.file.Files.createTempDirectory("graft-cont-stat")
      .toString
    assert(Dedup.containmentCandStatAtRest(docs, pDir) == live)
    val t0 = System.nanoTime()
    assert(Dedup.containmentCandStatAtRest(docs, pDir) == live)
    assert((System.nanoTime() - t0) / 1e9 < 5.0,
      "second call must read the stamped statistic, not re-probe")
    val baseStat = Dedup.containmentCandStatAtRest(base, pDir)
    assert(baseStat == Dedup.estimateContainmentCandidatesPerDoc(base),
      "corpus change must re-probe (stamp mismatch), value-identical")
    // the same discipline for the other two auto families: at-rest
    // probe paths serve value-identical decisions (pair sets equal the
    // self-probed autos bit for bit)
    val shp = java.nio.file.Files.createTempDirectory("graft-shp")
      .toString
    val wnp = java.nio.file.Files.createTempDirectory("graft-wnp")
      .toString
    assert(Dedup.simhashNearDupAuto(docs, 3, Some(shp))
      .collect().map(_.toString).sorted.toSeq ==
      Dedup.simhashNearDupAuto(docs, 3)
        .collect().map(_.toString).sorted.toSeq)
    assert(Dedup.substringOverlapAuto(docs, 16, 8, 10, Some(wnp))
      .collect().map(_.toString).sorted.toSeq ==
      Dedup.substringOverlapAuto(docs, 16, 8, 10)
        .collect().map(_.toString).sorted.toSeq)
    // stamped: the stat sidecars exist and a second pathed call reuses
    assert(new java.io.File(shp, "shprobe").isDirectory)
    assert(new java.io.File(wnp, "wnprobe").isDirectory)
    // ...and the fourth family, x07's banding decision
    val lbp = java.nio.file.Files.createTempDirectory("graft-lbp")
      .toString
    assert(Dedup.jaccardPairsLshAuto(docs, 3, 0.5, Some(lbp))
      .collect().map(_.toString).sorted.toSeq ==
      Dedup.jaccardPairsLshAuto(docs, 3, 0.5)
        .collect().map(_.toString).sorted.toSeq)
    assert(new java.io.File(lbp, "lshprobe").isDirectory)
  }

  test("df compaction vs an interleaved reader: a scan planned against " +
      "the pre-compaction shards either completes on exactly the old " +
      "values or fails fast on the vanished paths — never a mixed " +
      "(double-counted) read — and a fresh reader sees identical values") {
    import graft.ext.Dedup
    val dir = java.nio.file.Files
      .createTempDirectory("graft-df-interleave").toString
    val base = docs.filter(col("doc_id") < 100)
    val batch = docs.filter(col("doc_id") >= 100)
    assert(Dedup.ensureShingleDfIndex(base, dir))
    assert(Dedup.extendShingleDfIndex(base, batch, dir),
      "the dir must hold multiple shards so a mix is even possible")
    val before = Dedup.readShingleDf(spark, dir)
      .as[(String, Long)].collect().toMap
    // the interleaved reader: its parquet file list is resolved NOW,
    // against the pre-compaction shard set
    val stale = Dedup.readShingleDf(spark, dir)
    assert(Dedup.compactShingleDfIndex(spark, dir))
    scala.util.Try(stale.as[(String, Long)].collect().toMap) match {
      case scala.util.Success(m) =>
        assert(m == before,
          "a stale-planned reader may only return the complete old values")
      case scala.util.Failure(_) => () // fail-fast on vanished paths:
      // the caller retries and replans against the compacted set —
      // the one forbidden outcome is a silently wrong sum
    }
    assert(Dedup.readShingleDf(spark, dir)
      .as[(String, Long)].collect().toMap == before,
      "compaction must be value-invisible to fresh readers")
    assert(!new java.io.File(dir, "df_compact_old").exists() &&
      !new java.io.File(dir, "df_compact_tmp").exists())
  }

  test("recall floors: the x136 LSH audit reads 1.0 and the x143 " +
      "containment audit stays >= 0.9 on the testdata — a coverage " +
      "regression fails here even if the oracle moves with the code") {
    import graft.ext.Dedup
    // x136's relation: exact shingle pairs audited against auto-LSH
    // candidates (a correct banding hits every exact pair here)
    val exact = Dedup.jaccardPairsIndexHashed(docs, 3, 0.5)
      .select(col("da"), col("db"))
    val lsh = Dedup.jaccardPairsLshAuto(docs, 3, 0.5)
      .select(col("da"), col("db"), lit(1L).as("hit"))
    val (nExact, nHit) = exact.join(lsh, Seq("da", "db"), "left")
      .agg(count(lit(1)), sum(coalesce(col("hit"), lit(0L))))
      .as[(Long, Long)].head()
    assert(nExact > 0, "testdata must carry exact near-dup pairs")
    assert(nHit == nExact,
      s"LSH recall must be 1.0 on the testdata: $nHit/$nExact")
    // x143's relation: the CDC containment detector (0.5) audited
    // against the exact shingle-containment join (0.9); the CDC chunk
    // grain legitimately misses a small tail (0.93 measured here) but
    // a chunking/cap change that drops real coverage lands below 0.9
    val (cExact, cHit, cRecall) = Dedup.containmentAudit(docs)
      .as[(Long, Long, Double)].head()
    assert(cExact > 0 && cHit <= cExact)
    assert(cRecall >= 0.9,
      s"containment recall floor breached: $cRecall ($cHit/$cExact)")
  }

  test("x147 production recall floor: the Production-profile index " +
      "loses at most 5 points of mean recall@10 vs brute ground truth " +
      "next to the Exact-profile index probed identically — a " +
      "sampling/coarse-assignment change that quietly degrades " +
      "retrieval fails here even if the oracle moves with the code") {
    import graft.ext.{IndexProfile, Similarity}
    val pDir = java.nio.file.Files
      .createTempDirectory("graft-prodrecall-p").toString
    val eDir = java.nio.file.Files
      .createTempDirectory("graft-prodrecall-e").toString
    val k = Similarity.adaptiveCellCount(emb)
    Similarity.ensureIvfIndex(emb, pDir, nCentroids = k,
      profile = IndexProfile.Production())
    Similarity.ensureIvfIndex(emb, eDir, nCentroids = k,
      profile = IndexProfile.Exact)
    // seed-disjoint queries (vec_id < k are the exact profile's Lloyd
    // seeds; querying them flatters the exact index — see x147's note)
    val q = emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    val brute = Similarity.topKBrute(emb, q, k = 10)
      .select(col("qid"), col("cid"))
    val exact = Similarity.topKIvfIndexed(eDir, q, k = 10)
      .select(col("qid"), col("cid"), lit(1L).as("hx"))
    val prod = Similarity.topKIvfIndexed(pDir, q, k = 10)
      .select(col("qid"), col("cid"), lit(1L).as("hp"))
    val (n, hx, hp) = brute.join(exact, Seq("qid", "cid"), "left")
      .join(prod, Seq("qid", "cid"), "left")
      .agg(count(lit(1)), count(col("hx")), count(col("hp")))
      .as[(Long, Long, Long)].head()
    assert(n == 500, s"50 queries x top-10 expected, got $n")
    val (rExact, rProd) = (hx.toDouble / n, hp.toDouble / n)
    assert(rProd >= rExact - 0.05,
      s"production recall floor breached: prod $rProd vs exact $rExact")
  }

  test("x147 production recall floor under the SKEW corpus: the parity " +
      "claim holds on the Zipf-clustered shape production crawls have " +
      "(head cell ~28% of rows), not just the iid testdata") {
    import graft.ext.{IndexProfile, Similarity}
    // GenCorpus skew mode, in-memory: Zipf(1.0) label popularity with
    // tight noise — skewed cell populations, the x100skew regime
    // SCALE.md measured prod at -0.01 vs exact on
    val skew = spark.range(2000)
      .map(i => graft.tools.GenCorpus.vec(i, skew = true))
      .select(col("vec_id"), col("embedding"))
    val pDir = java.nio.file.Files
      .createTempDirectory("graft-skewrecall-p").toString
    val eDir = java.nio.file.Files
      .createTempDirectory("graft-skewrecall-e").toString
    val k = Similarity.adaptiveCellCount(skew)
    Similarity.ensureIvfIndex(skew, pDir, nCentroids = k,
      profile = IndexProfile.Production())
    Similarity.ensureIvfIndex(skew, eDir, nCentroids = k,
      profile = IndexProfile.Exact)
    // seed-disjoint queries (x147's convention: vec_id < k are the
    // exact profile's Lloyd seeds)
    val q = skew.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    val brute = Similarity.topKBrute(skew, q, k = 10)
      .select(col("qid"), col("cid"))
    val exact = Similarity.topKIvfIndexed(eDir, q, k = 10, nprobe = 2)
      .select(col("qid"), col("cid"), lit(1L).as("hx"))
    val prod = Similarity.topKIvfIndexed(pDir, q, k = 10, nprobe = 2)
      .select(col("qid"), col("cid"), lit(1L).as("hp"))
    val (n, hx, hp) = brute.join(exact, Seq("qid", "cid"), "left")
      .join(prod, Seq("qid", "cid"), "left")
      .agg(count(lit(1)), count(col("hx")), count(col("hp")))
      .as[(Long, Long, Long)].head()
    assert(n == 500, s"50 queries x top-10 expected, got $n")
    val (rExact, rProd) = (hx.toDouble / n, hp.toDouble / n)
    assert(rProd >= rExact - 0.05,
      s"skew-corpus recall floor breached: prod $rProd vs exact $rExact")
  }

  test("hier auto-switch: Production training routes through the " +
      "hierarchical trainer at and past the profile's hierKMin — a " +
      "large-k Production seed is the hier seed, bit for bit — while " +
      "below-threshold and explicit-flag callers are untouched") {
    import graft.ext.{IndexProfile, Similarity}
    // the switch itself, at the profile's default boundary
    assert(Similarity.resolveProfile(1024,
      IndexProfile.Production()) == IndexProfile.Production(
      hierTrain = true), "k = default threshold must route hier")
    assert(Similarity.resolveProfile(1023,
      IndexProfile.Production()) == IndexProfile.Production(),
      "k below the threshold must keep the sampled trainer")
    assert(Similarity.resolveProfile(4096,
      IndexProfile.Exact) == IndexProfile.Exact,
      "Exact is never auto-switched")
    val low = IndexProfile.Production(hierKMin = 4)
    assert(Similarity.resolveProfile(4, low) == low.copy(
      hierTrain = true), "the threshold must come from the profile")
    // end to end: with the threshold lowered under the test corpus's
    // cell count, a Production seed with no hierTrain flag must produce
    // the hier trainer's centroids (deterministic, so bit-identical)
    val autoDir = java.nio.file.Files
      .createTempDirectory("graft-hierauto-a").toString
    val hierDir = java.nio.file.Files
      .createTempDirectory("graft-hierauto-h").toString
    val k = Similarity.adaptiveCellCount(emb)
    assert(k >= 4)
    Similarity.ensureIvfIndex(emb, autoDir, nCentroids = k,
      profile = low)
    Similarity.ensureIvfIndex(emb, hierDir, nCentroids = k,
      profile = IndexProfile.Production(hierTrain = true))
    val autoCents = Similarity.readKnnCentroids(spark, autoDir)
      .collect().map(_.toString).sorted.toSeq
    assert(autoCents == Similarity.readKnnCentroids(spark, hierDir)
      .collect().map(_.toString).sorted.toSeq,
      "auto-routed Production seed must equal the explicit hier seed")
    // and it genuinely switched: the sampled trainer's centroids
    // differ on this corpus (guards the equality above from vacuity)
    val sampled = Similarity.trainCentroidsSampled(emb, k,
      maxTrainRows = 50 * k)
      .collect().map(_.toString).sorted.toSeq
    assert(autoCents != sampled,
      "hier and sampled centroids coincide — test corpus too easy")
  }

  test("adaptive nprobe default: topKIvfIndexed with no nprobe derives " +
      "the probe width from the index's cell count and the conf-keyed " +
      "fraction — the floor reproduces the old literal 2 at validation " +
      "k, and the width scales with the fraction, not the caller") {
    import graft.ext.Similarity
    // the derivation the production dial rests on: at the kMax cap the
    // default fraction probes 5% of cells, not a fixed 2
    assert(Similarity.adaptiveNprobe(4096,
      Similarity.probeFracDefault) == 205)
    assert(Similarity.adaptiveNprobe(8,
      Similarity.probeFracDefault) == 2, "floor holds at validation k")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-adaptnp").toString
    Similarity.writeIvfIndex(emb, dir, nCentroids = 8)
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("qid"), col("rank")).collect().map(_.toString).toSeq
    // default == the old literal 2 on a small index (the floor)
    assert(rows(Similarity.topKIvfIndexed(dir, q, k = 5)) ==
      rows(Similarity.topKIvfIndexed(dir, q, k = 5, nprobe = 2)))
    // a wider fraction widens the DEFAULT probe to ceil(8*0.5)=4
    assert(rows(Similarity.topKIvfIndexed(dir, q, k = 5,
      probeFrac = 0.5)) ==
      rows(Similarity.topKIvfIndexed(dir, q, k = 5, nprobe = 4)),
      "probe width must follow the fraction")
  }

  test("x141 containment auto picks the exact join on a dispersed " +
      "corpus and the CDC detector on a duplicate-saturated one") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // per-doc-unique token streams: every shingle df = 1, so the
    // prefix-candidate mass is zero -> exact branch
    val clean = (0 until 24).map(i =>
      (i.toLong, "s",
        (0 until 8).map(t => md5hex(s"c:$i:$t").take(8)).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val cleanEst = Dedup.estimateContainmentCandidatesPerDoc(clean)
    assert(cleanEst <= 32, s"dispersed corpus must read sub-cutoff: $cleanEst")
    assert(Dedup.containmentAuto(clean)
      .as[(Long, Long, Double)].collect().toSet ==
      Dedup.containmentPairs(clean, 3, 0.9)
        .as[(Long, Long, Double)].collect().toSet)
    // 300 docs drawn from a 3-string pool: even each doc's RAREST
    // shingles carry df = 100, so the containment prefix collides
    // corpus-wide -- the exact join's ~n^2 saturation regime -> CDC
    val pool = (0 until 3).map(p =>
      (0 until 12).map(t => md5hex(s"p:$p:$t").take(8)).mkString(" "))
    val sat = (0 until 300).map(i => (i.toLong, "s", pool(i % 3)))
      .toDF("doc_id", "source", "text")
    val satEst = Dedup.estimateContainmentCandidatesPerDoc(sat)
    assert(satEst > 32,
      s"saturated corpus must read past the cutoff: $satEst")
    assert(Dedup.containmentAuto(sat)
      .as[(Long, Long, Double)].collect().toSet ==
      Dedup.cdcContainmentPairs(sat, p = 8, threshold = 0.5)
        .as[(Long, Long, Double)].collect().toSet)
    // the declared testdata corpus: auto must equal whichever branch
    // its measured estimate selects
    val est = Dedup.estimateContainmentCandidatesPerDoc(docs)
    val expected =
      (if (est > 32) Dedup.cdcContainmentPairs(docs, p = 8, threshold = 0.5)
       else Dedup.containmentPairs(docs, 3, 0.9))
        .as[(Long, Long, Double)].collect().toSet
    assert(Dedup.containmentAuto(docs)
      .as[(Long, Long, Double)].collect().toSet == expected)
  }

  test("x35 declared recall query matches set-computed recall@10") {
    val declared = graft.queries.ExtQueries
      .queries("x35_ann_recall")(spark, sf)
      .as[(Long, Long, Double)].collect()
      .map { case (qid, nHit, recall) => qid -> ((nHit, recall)) }.toMap
    val queries = emb.filter($"vec_id" < 10)
    val brute = Similarity.topKBrute(emb, queries, 10)
      .select($"qid", $"cid").as[(Long, Long)].collect().groupBy(_._1)
    // same trained index as the declared x15/x35 queries
    val ivf = Similarity.topKIvf(emb, queries, 10,
      centroids = Some(Similarity.trainCentroids(emb, 8)))
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    assert(declared.keySet == brute.keySet)
    brute.foreach { case (qid, rows) =>
      val hits = rows.count(ivf.contains)
      assert(declared(qid) ==
        ((hits.toLong, math.rint(hits / 10.0 * 1e6) / 1e6)),
        s"qid $qid")
    }
  }

  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("noveltyRate equals the set-computed first-seen fraction") {
    val declared = Dedup.noveltyRate(docs, 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val sets = Dedup.shingled(docs, 3)
      .as[(Long, Seq[String])].collect()
    assert(sets.nonEmpty)
    val minDoc = sets.flatMap { case (id, sg) => sg.map(_ -> id) }
      .groupBy(_._1).map { case (g, v) => g -> v.map(_._2).min }
    val expect = sets.map { case (id, sg) =>
      val seen = sg.count(g => minDoc(g) < id)
      (id, sg.size.toLong, seen.toLong, r6(seen.toDouble / sg.size))
    }.sortBy(_._1)
    assert(declared.toSeq == expect.toSeq)
    // the earliest doc can never have seen-before shingles
    assert(declared.head._3 == 0L && declared.head._4 == 0.0)
  }

  test("matryoshka recall equals set-computed overlap of truncated vs " +
      "full brute top-10") {
    val declared = graft.queries.ExtQueries
      .queries("x71_matryoshka_recall")(spark, sf)
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, r) => q -> ((n, r)) }.toMap
    val trunc = emb.select($"vec_id",
      slice($"embedding", 1, 16).as("embedding"))
    val full = Similarity.topKBrute(emb, emb.filter($"vec_id" < 10), 10)
      .select($"qid", $"cid").as[(Long, Long)].collect().groupBy(_._1)
    val t = Similarity.topKBrute(trunc, trunc.filter($"vec_id" < 10), 10)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    assert(declared.keySet == full.keySet)
    full.foreach { case (qid, rows) =>
      val hits = rows.count(t.contains)
      assert(declared(qid) == ((hits.toLong, r6(hits / 10.0))), s"qid $qid")
    }
    // truncation must lose SOMETHING on real data or the audit is vacuous
    assert(declared.values.exists(_._1 < 10L))
  }

  test("normalizationDelta merges punctuation variants only under the " +
      "aggressive key") {
    val d = Seq(
      (1L, "Hello, world!", "a"),
      (2L, "hello world", "a"),
      (3L, "hello  world", "a"), // canonical already merges 2 and 3
      (4L, "something else", "a"),
      (5L, "no twin here", "b"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.normalizationDelta(d)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    // source a: 4 docs, 3 canonical groups (2=3), 2 aggressive groups
    // (1=2=3) → one extra merge; source b: nothing merges
    assert(out.toSeq == Seq(
      ("a", 4L, 3L, 2L, 1L),
      ("b", 1L, 1L, 1L, 0L)))
  }

  test("bpePairCounts counts adjacent subword pairs with merged forms") {
    val d = Seq(
      (1L, "ab ab ab"), // pairs: "ab ab" x2
      (2L, "a-b"), //       pairs: "a -", "- b"
      (3L, "x")) //         single token: no pairs
      .toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.bpePairCounts(d, k = 10)
      .as[(String, Long, String)].collect()
    assert(out.head == (("ab ab", 2L, "abab")))
    assert(out.toSet == Set(
      ("ab ab", 2L, "abab"), ("a -", 1L, "a-"), ("- b", 1L, "-b")))
  }

  test("curriculumSchedule cuts each source into equal percentile bands " +
      "with exact token mass") {
    // monotone quality via token count (no stopwords, no punctuation):
    // 8 docs → percent_rank k/7 → phases 0,0,1,1,2,2,3,3
    val rows = (1 to 8).map { i =>
      (i.toLong, (1 to (i * 10)).map(j => s"w$j").mkString(" "), "s")
    }
    val d = rows.toDF("doc_id", "text", "source")
    val out = graft.ext.Selection.curriculumSchedule(d, phases = 4)
      .as[(String, Int, Long, Long)].collect().sortBy(_._2)
    assert(out.map(_._2).toSeq == Seq(0, 1, 2, 3))
    assert(out.map(_._3).toSeq == Seq(2L, 2L, 2L, 2L))
    // phase token mass: docs (1,2)=30, (3,4)=70, (5,6)=110, (7,8)=150
    assert(out.map(_._4).toSeq == Seq(30L, 70L, 110L, 150L))
  }

  test("pcaTopComponent equals a driver-side replication of the " +
      "quantized power iteration") {
    val declared = Similarity.pcaTopComponent(emb, dim = 64, iters = 2)
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    val rows = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1).map(_._2)
    val dim = 64
    val n = rows.length.toDouble
    def rd(v: Double, s: Int): Double =
      BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mu = (0 until dim).map { d =>
      rows.map(r => rd(r(d).toDouble * 1e6, 0).toLong).sum.toDouble / n / 1e6
    }
    val em = rows.map(r => (0 until dim).map(d => r(d).toDouble - mu(d)))
    def dotSeq(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0
      for (d <- 0 until a.length) acc += a(d) * b(d)
      acc
    }
    var v: Seq[Double] = Seq.fill(dim)(1.0)
    var vPrev = v
    var gv: Seq[Double] = v
    for (_ <- 1 to 2) {
      val cs = em.map(e => dotSeq(e, v))
      gv = (0 until dim).map { d =>
        em.indices.map(i => BigDecimal(rd(cs(i) * em(i)(d), 6))).sum.toDouble
      }
      vPrev = v
      val nrm = math.sqrt(dotSeq(gv, gv))
      v = gv.map(x => rd(x / nrm, 6))
    }
    val eig = rd(dotSeq(gv, vPrev) / n, 6)
    val expect = (1 to dim).map(d => (d, v(d - 1), eig))
    assert(declared.toSeq == expect)
    assert(eig > 0.0)
  }

  test("sourceTokenEntropy: uniform tokens hit ln(n), repeated token " +
      "drops entropy, single-token source is zero") {
    val d = Seq(
      (1L, "a b c d", "uni"), //  4 distinct, uniform → H = ln 4
      (2L, "a a a b", "skew"), // skewed → H < ln 2 · eps
      (3L, "x x x x", "mono")) // one distinct token → H = 0, evenness 0
      .toDF("doc_id", "text", "source")
    val out = graft.ext.TextAnalysis.sourceTokenEntropy(d)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val uni = out("uni")
    assert(uni._2 == 4L && uni._3 == 4L)
    assert(math.abs(uni._4 - math.log(4)) < 1e-5)
    assert(math.abs(uni._5 - 1.0) < 1e-5) // uniform = perfectly even
    val skew = out("skew")
    assert(skew._3 == 2L && skew._4 > 0 && skew._4 < math.log(2))
    assert(skew._5 < 1.0)
    val mono = out("mono")
    assert(mono._3 == 1L && mono._4 == 0.0 && mono._5 == 0.0)
  }

  test("bloom-prefiltered contamination equals the exact asymmetric join") {
    val exact = graft.ext.Contamination.exact(docs, $"doc_id" < 10)
      .as[(Long, Long, Long)].collect().toSet
    val bloomed = graft.ext.Contamination
      .bloomPrefiltered(docs, $"doc_id" < 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(bloomed == exact)
  }

  test("training export drops gated docs and non-reps, keeps null labels") {
    // the gate corpus has no quality failures or exact duplicates at the
    // gate SFs, so THIS fixture is what pins the composite's semantics:
    // doc 1 = clean original; doc 2 = exact dup of 1 (whitespace/case
    // only → same fingerprint, must drop); doc 3 = symbol noise (quality
    // gate must drop); doc 4 = clean but absent from embeddings (must
    // survive with null label)
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "srcA"),
      (2L, "  The QUICK  brown fox jumps over the lazy dog ", "srcA"),
      (3L, "@#$ %^& *() @#$ %^& *() @#$ %^&", "srcA"),
      (4L, "plain sentence with several ordinary words inside", "srcB"))
      .toDF("doc_id", "text", "source")
    val e = Seq((1L, 7), (2L, 7), (3L, 9)).toDF("vec_id", "label")
    val out = graft.ext.Export.trainingExport(d, e)
      .select($"doc_id", $"split", $"label".cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 4L)) // 2 deduped, 3 gated out
    assert(out(0)._3 == "7") // label joined
    assert(out(1)._3 == null) // no embedding row → null label survives
    val manifest = graft.ext.Export
      .shardManifest(graft.ext.Export.trainingExport(d, e))
      .as[(String, String, Long, Long)].collect().toSet
    assert(manifest.map(_._2) == Set("srcA", "srcB"))
    assert(manifest.toSeq.map(_._3).sum == 2) // n_docs over kept set only
  }

  test("repetition collapse removes only consecutive duplicate tokens") {
    val d = Seq(
      (1L, "a a b a a a c"),
      (2L, "x y x y"),
      (3L, "z")).toDF("doc_id", "text")
    import graft.ext.TextAnalysis.tokens
    val collapsed = d
      .select($"doc_id", tokens($"text").as("ws"))
      .select($"doc_id",
        filter($"ws", (w, i) => i === 0 || w =!= get($"ws", i - 1))
          .as("kept"))
      .select($"doc_id", array_join($"kept", " ").as("c"))
      .as[(Long, String)].collect().toMap
    assert(collapsed == Map(1L -> "a b a c", 2L -> "x y x y", 3L -> "z"))
  }

  test("multimodal decoder parses real BMP, WAV, and PNG headers from bytes") {
    def putLe32(b: Array[Byte], off: Int, v: Int): Unit =
      (0 until 4).foreach(i => b(off + i) = ((v >> (8 * i)) & 0xFF).toByte)
    def putLe16(b: Array[Byte], off: Int, v: Int): Unit =
      (0 until 2).foreach(i => b(off + i) = ((v >> (8 * i)) & 0xFF).toByte)
    def bmpLike(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](54)
      b(0) = 'B'; b(1) = 'M'
      putLe32(b, 14, 40); putLe32(b, 18, w); putLe32(b, 22, h)
      b
    }
    // BMP: BITMAPINFOHEADER, 123 x 45 (height negative = top-down)
    val bmp = bmpLike(123, -45)
    // WAV: 44100 Hz stereo 16-bit, 1000 sample frames
    val dataBytes = 1000 * 4
    val wav = new Array[Byte](44 + dataBytes)
    "RIFF".getBytes.copyToArray(wav, 0)
    putLe32(wav, 4, 36 + dataBytes)
    "WAVE".getBytes.copyToArray(wav, 8)
    "fmt ".getBytes.copyToArray(wav, 12); putLe32(wav, 16, 16)
    putLe16(wav, 20, 1); putLe16(wav, 22, 2) // PCM, stereo
    putLe32(wav, 24, 44100); putLe32(wav, 28, 44100 * 4)
    putLe16(wav, 32, 4); putLe16(wav, 34, 16) // block align, bits
    "data".getBytes.copyToArray(wav, 36); putLe32(wav, 40, dataBytes)
    // junk payload → deterministic stub fallback, no throw
    val junk = "not a media file".getBytes
    // corrupt WAV: declared chunk size near Int.MaxValue must not
    // overflow the walk offset (stub fallback, no crash)
    val hugeChunk = new Array[Byte](64)
    "RIFF".getBytes.copyToArray(hugeChunk, 0)
    "WAVE".getBytes.copyToArray(hugeChunk, 8)
    "fmt ".getBytes.copyToArray(hugeChunk, 12)
    putLe32(hugeChunk, 16, 0x7FFFFFF0)
    assert(Multimodal.decodeBatch(Iterator((9L, hugeChunk))).next()
      .width % 32 == 0) // stub path
    // corrupt BMP: negative width falls back to the stub
    val badBmp = bmpLike(-123, 45)
    assert(Multimodal.decodeBatch(Iterator((8L, badBmp))).next()
      .width % 32 == 0)
    // corrupt WAV: fmt chunk declaring sz=12 (< 16) — blockAlign would be
    // read from the NEXT chunk's tag bytes, yielding plausible-but-wrong
    // meta (rate 22050 is not a stub multiple of 32); must stub instead
    val shortFmt = new Array[Byte](44 + 8)
    "RIFF".getBytes.copyToArray(shortFmt, 0)
    putLe32(shortFmt, 4, 44)
    "WAVE".getBytes.copyToArray(shortFmt, 8)
    "fmt ".getBytes.copyToArray(shortFmt, 12); putLe32(shortFmt, 16, 12)
    putLe16(shortFmt, 20, 1); putLe16(shortFmt, 22, 2)
    putLe32(shortFmt, 24, 22050) // rate — would parse if sz were trusted
    "data".getBytes.copyToArray(shortFmt, 32); putLe32(shortFmt, 36, 16)
    assert(Multimodal.decodeBatch(Iterator((10L, shortFmt))).next()
      .width % 32 == 0) // stub path, not rate=22050
    // PNG: signature + IHDR, big-endian 640 x 480
    def putBe32(b: Array[Byte], off: Int, v: Int): Unit =
      (0 until 4).foreach(i => b(off + i) = ((v >> (8 * (3 - i))) & 0xFF).toByte)
    val png = new Array[Byte](33)
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte).copyToArray(png, 0)
    putBe32(png, 8, 13); "IHDR".getBytes.copyToArray(png, 12)
    putBe32(png, 16, 640); putBe32(png, 20, 480)
    assert(Multimodal.decodeBatch(Iterator((11L, png))).next()
      == Multimodal.MediaMeta(11L, 33, 640, 480, 1))
    // corrupt PNG: zero width → stub, not a 0-dim image
    val badPng = png.clone(); putBe32(badPng, 16, 0)
    assert(Multimodal.decodeBatch(Iterator((12L, badPng))).next()
      .width % 32 == 0)
    // pure-function path
    val metas = Multimodal.decodeBatch(Iterator(
      (1L, bmp), (2L, wav), (3L, junk))).toSeq
    assert(metas(0) == Multimodal.MediaMeta(1L, 54, 123, 45, 1))
    assert(metas(1) == Multimodal.MediaMeta(2L, 44 + dataBytes, 44100, 2, 1000))
    assert(metas(2).width % 32 == 0 && metas(2).n_frames >= 1)
    // Spark path: same results through the partition-batched plumbing
    val df = Seq((1L, bmp), (2L, wav), (3L, junk)).toDF("doc_id", "payload")
    val viaSpark = df.as[(Long, Array[Byte])]
      .mapPartitions(Multimodal.decodeBatch)
      .collect().sortBy(_.doc_id).toSeq
    assert(viaSpark == metas)
  }

  test("wavPcm16Stats computes RMS/ZCR/peak from the real PCM samples, " +
    "channel 0 only, non-PCM16 payloads yield no row") {
    def putLe32(b: Array[Byte], off: Int, v: Int): Unit =
      (0 until 4).foreach(i => b(off + i) = ((v >> (8 * i)) & 0xFF).toByte)
    def putLe16(b: Array[Byte], off: Int, v: Int): Unit =
      (0 until 2).foreach(i => b(off + i) = ((v >> (8 * i)) & 0xFF).toByte)
    def wavOf(channels: Int, bits: Int, samples: Seq[Seq[Int]])
        : Array[Byte] = {
      val frameBytes = channels * bits / 8
      val dataBytes = samples.length * frameBytes
      val b = new Array[Byte](44 + dataBytes)
      "RIFF".getBytes.copyToArray(b, 0); putLe32(b, 4, 36 + dataBytes)
      "WAVE".getBytes.copyToArray(b, 8)
      "fmt ".getBytes.copyToArray(b, 12); putLe32(b, 16, 16)
      putLe16(b, 20, 1); putLe16(b, 22, channels)
      putLe32(b, 24, 44100); putLe32(b, 28, 44100 * frameBytes)
      putLe16(b, 32, frameBytes); putLe16(b, 34, bits)
      "data".getBytes.copyToArray(b, 36); putLe32(b, 40, dataBytes)
      samples.zipWithIndex.foreach { case (frame, i) =>
        frame.zipWithIndex.foreach { case (v, c) =>
          putLe16(b, 44 + i * frameBytes + c * 2, v & 0xFFFF)
        }
      }
      b
    }
    // mono square wave ±8192, flipping every 10 samples, 1000 samples:
    // rms = peak = 8192/32768 = 0.25, crossings at i = 10, 20, …, 990
    val square = wavOf(1, 16,
      (0 until 1000).map(i => Seq(if ((i / 10) % 2 == 0) 8192 else -8192)))
    val st = Multimodal.wavPcm16Stats(1L, square).get
    assert(st.n_samples == 1000L && st.rms == 0.25 && st.peak == 0.25)
    assert(st.zcr == 99.0 / 1000)
    // stereo: channel 0 constant half-scale, channel 1 deliberately loud
    // noise — stats must come from channel 0 only
    val stereo = wavOf(2, 16,
      (0 until 100).map(i => Seq(16384, if (i % 2 == 0) 32000 else -32000)))
    val st2 = Multimodal.wavPcm16Stats(2L, stereo).get
    assert(st2.rms == 0.5 && st2.peak == 0.5 && st2.zcr == 0.0)
    // 8-bit PCM and junk payloads: no row, never a crash
    assert(Multimodal.wavPcm16Stats(3L, wavOf(1, 8, Seq.empty)).isEmpty)
    assert(Multimodal.wavPcm16Stats(4L, "junk".getBytes).isEmpty)
    // Spark path: only decodable payloads surface
    val df = Seq((1L, square), (2L, stereo), (4L, "junk".getBytes))
      .toDF("doc_id", "text")
    val rows = Multimodal.extractAudioStats(spark, df)
      .collect().sortBy(_.doc_id)
    assert(rows.map(_.doc_id).toSeq == Seq(1L, 2L))
    assert(rows(0).rms == 0.25 && rows(1).rms == 0.5)
  }

  test("multimodal decoder parses real JPEG SOF dimensions from bytes") {
    def putBe16(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = ((v >> 8) & 0xFF).toByte; b(off + 1) = (v & 0xFF).toByte
    }
    // SOI, APP0 (JFIF), DHT (must be skipped — FFC4 is in the SOF range
    // numerically), SOF0 with 640x480, EOI
    def seg(marker: Int, payload: Int): Int = 2 + 2 + payload
    val jpg = new Array[Byte](2 + seg(0xE0, 14) + seg(0xC4, 3) +
      seg(0xC0, 15) + 2)
    var o = 0
    def marker(m: Int, payloadLen: Int): Int = {
      jpg(o) = 0xFF.toByte; jpg(o + 1) = m.toByte
      putBe16(jpg, o + 2, 2 + payloadLen)
      val data = o + 4; o += 4 + payloadLen; data
    }
    jpg(0) = 0xFF.toByte; jpg(1) = 0xD8.toByte; o = 2
    val app0 = marker(0xE0, 14)
    "JFIF".getBytes.copyToArray(jpg, app0)
    marker(0xC4, 3) // DHT: would be misread as SOF if not excluded
    val sof = marker(0xC0, 15)
    jpg(sof) = 8 // precision
    putBe16(jpg, sof + 1, 480) // height
    putBe16(jpg, sof + 3, 640) // width
    jpg(o) = 0xFF.toByte; jpg(o + 1) = 0xD9.toByte
    val meta = Multimodal.decodeBatch(Iterator((42L, jpg))).next()
    assert(meta.width == 640 && meta.height == 480 && meta.n_frames == 1)
    // truncated mid-segment → stub (dimensions are the stub's 32-grid)
    val cut = jpg.take(10)
    val stub = Multimodal.decodeBatch(Iterator((43L, cut))).next()
    assert(stub.width % 32 == 0 && stub.height % 32 == 0)
    // SOS before any SOF → stub, no infinite walk
    val sos = Array(0xFF, 0xD8, 0xFF, 0xDA, 0x00, 0x04, 0x01, 0x02)
      .map(_.toByte)
    val stub2 = Multimodal.decodeBatch(Iterator((44L, sos))).next()
    assert(stub2.width % 32 == 0)
  }

  test("multimodal metadata is deterministic and schema-typed") {
    val a = Multimodal.extractMeta(spark, docs).collect().sortBy(_.doc_id)
    val b = Multimodal.extractMeta(spark, docs).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
    assert(a.forall(m => m.width >= 32 && m.width <= 256))
    assert(a.forall(m => m.n_bytes > 0))
  }

  test("multimodal feature extraction: normalized byte histogram") {
    val d = Seq((1L, "\u0020\u0020\u00ff"), (2L, "AAAA"))
      .toDF("doc_id", "text")
    val f = Multimodal.extractFeatures(spark, d)
      .collect().map(m => m.doc_id -> m.features).toMap
    // doc 1: utf-8 bytes 20 20 c3 bf → bin 2 (×2), bin 12, bin 11
    assert(f(1L)(2) == 0.5f && f(1L)(12) == 0.25f && f(1L)(11) == 0.25f)
    assert(math.abs(f(1L).sum - 1.0f) < 1e-6f)
    // doc 2: 'A' = 0x41 → all mass in bin 4
    assert(f(2L)(4) == 1.0f)
    // plugs into the Similarity operators as an embedding column
    val emb = Multimodal.extractFeatures(spark, d).toDF()
      .select($"doc_id".as("vec_id"), $"features".as("embedding"))
    val pairs = graft.ext.Similarity.nearDupPairs(emb, threshold = -1.0)
      .collect()
    assert(pairs.length == 1) // the one (1,2) pair scores
  }

  test("multimodal resize bounds dimensions, preserves payload") {
    val metas = Multimodal.extractMeta(spark, docs).collect()
      .map(m => m.doc_id -> m).toMap
    val resized = Multimodal.resize(spark, docs, 64, 64).collect()
    assert(resized.length == metas.size)
    resized.foreach { r =>
      assert(r.width <= 64 && r.height <= 64)
      assert(r.payload.length == metas(r.doc_id).n_bytes)
    }
  }

  test("multimodal resize REALLY downscales an uncompressed BMP payload") {
    def putLe32(b: Array[Byte], off: Int, v: Int): Unit =
      (0 until 4).foreach(i => b(off + i) = ((v >> (8 * i)) & 0xFF).toByte)
    // 4×2 bottom-up 24-bpp BI_RGB BMP; pixel (x, topRow y) gets
    // B = 10x + y, G = 100 + x, R = 200 + y so every pixel is unique
    val (w, h) = (4, 2)
    val stride = ((w * 3) + 3) & ~3 // 12, no padding at w=4
    val src = new Array[Byte](54 + stride * h)
    src(0) = 'B'; src(1) = 'M'
    putLe32(src, 2, src.length); putLe32(src, 10, 54)
    putLe32(src, 14, 40); putLe32(src, 18, w); putLe32(src, 22, h)
    src(26) = 1; src(28) = 24
    for (y <- 0 until h; x <- 0 until w) {
      val off = 54 + (h - 1 - y) * stride + x * 3
      src(off) = (10 * x + y).toByte
      src(off + 1) = (100 + x).toByte
      src(off + 2) = (200 + y).toByte
    }
    val df = Seq((7L, src)).toDF("doc_id", "text")
    val out = Multimodal.resize(spark, df, 2, 1).collect().head
    // bounded dims: scale = min(2/4, 1/2) = 0.5 → 2×1
    assert(out.width == 2 && out.height == 1)
    assert(!(out.payload sameElements src), "payload must be re-encoded")
    // the output is itself a valid BMP of the new dimensions…
    val meta = Multimodal.decodeBatch(Iterator((7L, out.payload))).next()
    assert(meta.width == 2 && meta.height == 1)
    // …whose pixels are the nearest-neighbor picks: dst (0,0) ← src
    // (0,0), dst (1,0) ← src (2,0) (x*srcW/dstW with top-row y)
    val outStride = ((2 * 3) + 3) & ~3 // 8
    def px(x: Int): (Int, Int, Int) = {
      val off = 54 + 0 * outStride + x * 3 // h=1: bottom row IS the top row
      (out.payload(off) & 0xFF, out.payload(off + 1) & 0xFF,
        out.payload(off + 2) & 0xFF)
    }
    assert(px(0) == ((0, 100, 200)))
    assert(px(1) == ((20, 102, 200)))
    // an already-in-bounds BMP passes through byte-identical
    val same = Multimodal.resize(spark, df, 8, 8).collect().head
    assert(same.width == 4 && same.height == 2)
    assert(same.payload sameElements src)
  }

  test("multimodal resize REALLY decodes and re-encodes PNG pixels " +
      "(JDK Inflater path, verified against the independent ImageIO codec)") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    // 8×4 truecolor PNG crafted by ImageIO — an independent encoder the
    // hand-rolled chunk-walk/unfilter decode must agree with
    val (w, h) = (8, 4)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (x * 31 << 16) | (y * 63 << 8) | (x * 16 + y * 8))
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val src = bos.toByteArray

    val df = Seq((11L, src)).toDF("doc_id", "text")
    val out = Multimodal.resize(spark, df, 4, 2).collect().head
    assert(out.width == 4 && out.height == 2)
    assert(!(out.payload sameElements src), "payload must be re-encoded")
    // the re-encoded payload is a valid PNG ImageIO can read back, and
    // its pixels are the nearest-neighbor picks from the source
    val back = ImageIO.read(new java.io.ByteArrayInputStream(out.payload))
    assert(back != null, "re-encoded payload must be a decodable PNG")
    assert(back.getWidth == 4 && back.getHeight == 2)
    for (y <- 0 until 2; x <- 0 until 4)
      assert((back.getRGB(x, y) & 0xFFFFFF) ==
        (img.getRGB(x * 2, y * 2) & 0xFFFFFF),
        s"pixel ($x,$y) must be the nearest-neighbor source pick")
    // an already-in-bounds PNG passes through byte-identical
    val same = Multimodal.resize(spark, df, 16, 16).collect().head
    assert(same.width == 8 && same.height == 4)
    assert(same.payload sameElements src)
  }

  test("multimodal frame sampling REALLY extracts AVI movi video chunks") {
    // minimal RIFF AVI: hdrl/avih (16×8, 3 frames) + movi with three
    // video chunks (00dc/00db) and one audio chunk (01wb) to skip
    def le32(v: Int): Array[Byte] =
      Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xFF).toByte)
    val avih = new Array[Byte](56)
    le32(3).copyToArray(avih, 16) // dwTotalFrames
    le32(16).copyToArray(avih, 32) // dwWidth
    le32(8).copyToArray(avih, 36) // dwHeight
    val f0 = Array[Byte](1, 2, 3, 4)
    val f1 = Array[Byte](5, 6, 7) // odd size → word-align padding
    val f2 = Array[Byte](8, 9, 10, 11, 12)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    val hdrl = "hdrl".getBytes ++ chunk("avih", avih)
    val movi = "movi".getBytes ++ chunk("00dc", f0) ++
      chunk("01wb", Array[Byte](9, 9)) ++ chunk("00dc", f1) ++
      chunk("00db", f2)
    val body = "AVI ".getBytes ++ chunk("LIST", hdrl) ++ chunk("LIST", movi)
    val avi = "RIFF".getBytes ++ le32(body.length) ++ body

    // header decode is real: avih dims + declared frame count
    val meta = Multimodal.decodeBatch(Iterator((5L, avi))).next()
    assert(meta.width == 16 && meta.height == 8 && meta.n_frames == 3)

    // stride-2 sampling emits the ACTUAL video chunk bytes, idx 0 and 2
    val df = Seq((5L, avi)).toDF("doc_id", "text")
    val sampled = Multimodal.sampleFrames(spark, df, stride = 2)
      .collect().sortBy(_.frame_idx)
    assert(sampled.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(sampled(0).frame sameElements f0)
    assert(sampled(1).frame sameElements f2)
    // stride 1: all three, audio chunk skipped, odd-size chunk intact
    val all = Multimodal.sampleFrames(spark, df, stride = 1)
      .collect().sortBy(_.frame_idx)
    assert(all.length == 3)
    assert(all(1).frame sameElements f1)
  }

  test("multimodal frame sampling strides over fake frames") {
    val metas = Multimodal.extractMeta(spark, docs).collect()
      .map(m => m.doc_id -> m).toMap
    val frames = Multimodal.sampleFrames(spark, docs, stride = 2).collect()
    val perDoc = frames.groupBy(_.doc_id)
    assert(perDoc.forall { case (id, fs) =>
      fs.length == (metas(id).n_frames + 1) / 2 &&
        fs.map(_.frame_idx).sorted.toSeq ==
          (0 until metas(id).n_frames by 2).toSeq
    })
  }

  test("source overlap counts exactly the shared distinct shingles") {
    val d = Seq(
      // srcA and srcB share exactly the shingle "x y z" (once each,
      // duplicates within a source collapse); srcC shares nothing
      (1L, "x y z p q r", "srcA"),
      (2L, "x y z x y z", "srcB"),
      (3L, "p q r s", "srcA"), // within-source repeat of "p q r": no pair
      (4L, "u v w", "srcC"),
      (5L, "u", "srcC") // < n tokens: contributes nothing
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(d, n = 3)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("srcA", "srcB", 1L)))
  }

  test("stratified sample draws exactly n per stratum, deterministically") {
    import graft.ext.Sampling
    val s1 = Sampling.stratifiedSample(
      docs.select(col("doc_id"), col("source")),
      col("source"), col("doc_id"), n = 3)
    val perSource = s1.groupBy(col("source")).count()
      .as[(String, Long)].collect().toMap
    val sizes = docs.groupBy(col("source")).count()
      .as[(String, Long)].collect().toMap
    assert(perSource.keySet == sizes.keySet)
    assert(perSource.forall { case (src, n) => n == math.min(3L, sizes(src)) })
    // a pure function of the row: identical draw on a re-run
    val s2 = Sampling.stratifiedSample(
      docs.select(col("doc_id"), col("source")),
      col("source"), col("doc_id"), n = 3)
    assert(s1.select("doc_id", "source", "rn").as[(Long, String, Int)]
      .collect().toSet ==
      s2.select("doc_id", "source", "rn").as[(Long, String, Int)]
        .collect().toSet)
  }

  test("semantic dedup flags non-min-id within-cell near-dups, keeps reps") {
    // two tight clusters around orthogonal axes. The k-means init is the
    // first-nCentroids ids, so ids 0 and 1 seed one centroid per cluster
    // (seeding the CLONES as separate centroids would split them into
    // their own cells and nothing would dedup — the fixture pins the
    // interesting case, not that degenerate one).
    def v(axis: Int, eps: Float): Seq[Float] =
      (0 until 4).map(d => (if (d == axis) 1.0f else 0.0f) + eps * d)
    val vecs: Map[Long, Seq[Float]] = Map(
      0L -> v(0, 0.0f), 1L -> v(1, 0.0f), 2L -> v(0, 0.001f),
      3L -> v(0, 0.002f), 4L -> v(1, 0.001f), 5L -> v(2, 0.0f))
    val e = vecs.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(e, nCentroids = 2, iters = 2)
    val out = Similarity.semanticDedup(e, threshold = 0.95, cents)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L),
      "every vector appears exactly once")
    // cross-check against the direct definition: non-rep iff a lower-id
    // same-cell vector has rounded cosine >= threshold
    val cells = out.map(r => r._1 -> r._2).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      def dot(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.foreach { case (id, cell, isRep) =>
      val hasLowerDup = vecs.keys.exists(o =>
        o < id && cells(o) == cell && cos(vecs(o), vecs(id)) >= 0.95)
      assert(isRep == !hasLowerDup, s"vec $id: is_rep=$isRep")
    }
    // the planted near-identical pairs did collapse: clones 2/3 fold
    // into 0, clone 4 into 1; the orthogonal singleton 5 survives
    assert(!out(2)._3 && !out(3)._3 && !out(4)._3)
    assert(out(0)._3 && out(1)._3 && out(5)._3)
  }

  test("substring overlap pairs documents by shared winnow fingerprints") {
    // docs 1/2 share a 40-char run (>= k+w-1 = 23, so it MUST contribute
    // shared fingerprints); doc 3 shares nothing that long
    val shared = "the quick brown fox jumps over the lazy dog"
    val d = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon zeta"),
      (2L, s"one two three $shared four five six seven"),
      (3L, "completely different content with no common runs at all here")
    ).toDF("doc_id", "text")
    val got = Dedup.substringOverlapPairs(d, k = 16, w = 8, minShared = 1)
      .as[(Long, Long, Long)].collect()
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // cross-check the count against a direct fingerprint intersection
    val fps = d.select(col("doc_id"),
      array_distinct(graft.functions.RollingWinnow
        .rolling_winnow(col("text"), 16, 8)).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    val expect = fps(1L).toSet.intersect(fps(2L).toSet).size
    assert(got.head._3 == expect && expect >= 1)
  }

  test("pipeline main writes split-partitioned shards and a true manifest") {
    import graft.ext.{Export, PipelineMain}
    val out = java.nio.file.Files.createTempDirectory("graft_pipe")
      .toString
    val (kept, total) = PipelineMain.run(spark, sf, out,
      scrubText = false, semDedup = false)
    assert(total == docs.count())
    val expected = Export.trainingExport(docs, emb).count()
    assert(kept == expected && kept > 0)
    // layout: split is a partition column on disk
    val splitDirs = new java.io.File(s"$out/shards").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(splitDirs.forall(_.startsWith("split=")) && splitDirs.nonEmpty)
    // the manifest matches a re-aggregation of what was written
    val written = spark.read.parquet(s"$out/shards")
    val manifest = spark.read.parquet(s"$out/manifest")
      .as[(String, String, Long, Long)].collect().toSet
    val recomputed = Export.shardManifest(written)
      .as[(String, String, Long, Long)].collect().toSet
    assert(manifest == recomputed)
    // semantic dedup can only shrink the export
    val out2 = java.nio.file.Files.createTempDirectory("graft_pipe2")
      .toString
    val (kept2, _) = PipelineMain.run(spark, sf, out2,
      scrubText = false, semDedup = true)
    assert(kept2 <= kept && kept2 > 0)
  }

  test("pipeline -pack/-mix write planning artifacts that match the " +
      "declared operators over the WRITTEN shards") {
    import graft.ext.{Export, PipelineMain, Selection}
    val out = java.nio.file.Files.createTempDirectory("graft_pipe_pm")
      .toString
    PipelineMain.runFrames(spark, docs, emb, out,
      scrubText = false, semDedup = false,
      packBudget = 256, mixTemperature = 2.0)
    val written = spark.read.parquet(s"$out/shards")
    val packs = spark.read.parquet(s"$out/packs")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val expectedPacks = Export.packSequences(written,
        concat_ws("/", $"split", $"source"), $"doc_id", $"n_tokens", 256)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(packs == expectedPacks && packs.nonEmpty)
    // pack shards are split/source scoped
    assert(packs.forall(_._1.contains("/")))
    val mix = spark.read.parquet(s"$out/mix")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val expectedMix = Selection.mixtureWeights(written, 2.0)
      .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(mix == expectedMix && mix.nonEmpty)
    // flags off → no artifacts (the default CLI contract)
    val out2 = java.nio.file.Files.createTempDirectory("graft_pipe_pm2")
      .toString
    PipelineMain.runFrames(spark, docs, emb, out2,
      scrubText = false, semDedup = false)
    assert(!new java.io.File(s"$out2/packs").exists())
    assert(!new java.io.File(s"$out2/mix").exists())
  }

  test("pipeline -semdedup never drops content whose semantic rep was " +
    "gate-filtered") {
    import graft.ext.PipelineMain
    // doc 1 fails the quality gate (symbol noise); doc 2 passes; their
    // embeddings are identical, so a corpus-wide semantic dedup would
    // flag 2 as a duplicate of the ghost 1 and export NOTHING of this
    // content — dedup must run among gate survivors only
    val raw = Seq(
      (1L, "!!! ### $$$ %%% ^^^ &&&", "srcA"),
      (2L, "perfectly reasonable wholesome training text right here okay",
        "srcA"),
      (3L, "another quite distinct good document with different words",
        "srcB")
    ).toDF("doc_id", "text", "source")
    val v = (0 until 8).map(_ * 0.1f)
    val em = Seq(
      (1L, v, "lab"), (2L, v, "lab"),
      (3L, (0 until 8).map(d => if (d == 7) 1.0f else 0.0f), "lab")
    ).toDF("vec_id", "embedding", "label")
    val out = java.nio.file.Files.createTempDirectory("graft_pipe3")
      .toString
    val (kept, total) = PipelineMain.runFrames(spark, raw, em, out,
      scrubText = false, semDedup = true)
    assert(total == 3)
    val ids = spark.read.parquet(s"$out/shards")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(2L, 3L),
      s"doc 2 must survive (its semantic twin was gate-dropped): $ids")
    assert(kept == 2)
  }

  test("count-min sketch brackets the exact bigram counts (x36 lever)") {
    import graft.ext.{Sketches, TextAnalysis}
    val bg = docs.select(TextAnalysis.tokens(col("text")).as("ws"))
      .select(explode(TextAnalysis.bigrams(col("ws"))).as("bg"))
    val exact = bg.groupBy(col("bg")).count()
      .as[(String, Long)].collect().toMap
    val total = exact.values.sum
    val cms = Sketches.countMin(bg, "bg", eps = 1e-4, confidence = 0.99)
    assert(cms.totalCount() == total)
    // one-sided error: never undercounts, overcounts by <= eps*N (the
    // guarantee holds w.p. 0.99 per item; the fixed seed makes this
    // deterministic, so a pass here stays a pass)
    val slack = math.ceil(1e-4 * total).toLong
    exact.foreach { case (b, n) =>
      val est = cms.estimateCount(b)
      assert(est >= n, s"undercount for '$b': $est < $n")
      assert(est <= n + slack, s"overcount beyond eps*N for '$b'")
    }
  }

  test("text scrub masks emails/urls/numbers and strips stopwords") {
    import graft.ext.TextAnalysis
    val d = Seq(
      (1L, "contact bob.smith+x@mail.example.org for the report 2024"),
      (2L, "see https://ex.com/a?b=1 and http://t.co it is on"),
      (3L, "no noise here"),
      (4L, "a42 42a 42 is not a word boundary trap")
    ).toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
      TextAnalysis.scrubCount(col("text"), TextAnalysis.scrubEmail).as("ne"),
      TextAnalysis.scrubCount(col("text"), TextAnalysis.scrubUrl).as("nu"),
      TextAnalysis.scrubCount(col("text"), TextAnalysis.scrubNum).as("nn"),
      TextAnalysis.scrub(col("text")).as("s"))
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 1, 0, 1, "contact <EMAIL> report <NUM>")))
    // audit counts run on the RAW text (the "1" in ?b=1 counts), but in
    // the scrub the URL rule fires first and eats to whitespace, so the
    // query digit never reaches the <NUM> rule
    assert(got(1) == ((2L, 0, 2, 1, "see <URL> <URL>")))
    assert(got(2) == ((3L, 0, 0, 0, "no noise here")))
    // \b keeps digit runs inside words (a42, 42a) unmasked
    assert(got(3) == ((4L, 0, 0, 1, "a42 42a <NUM> not word boundary trap")))
  }

  test("broadcast-join Lloyd assignment is row-identical to the literal " +
      "path at the same k") {
    // both assignment shapes against the SAME trained centroids: the
    // rounded-cosine argmax and low-id tie-break must agree row for row
    val cent = Similarity.trainCentroids(emb, nCentroids = 8, iters = 3)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Seq[Float], Long)] =
      df.select(col("embedding"), col("cell")).as[(Seq[Float], Long)]
        .collect().toSeq.sortBy(_.toString)
    val literal = rows(Similarity.assignLiteral(emb, cent))
    val joined = rows(Similarity.assignBroadcastJoin(emb, cent))
    assert(literal.size == emb.count() && literal.map(_._2).distinct.size > 1,
      "the fixture must spread over several cells")
    assert(joined == literal,
      "large-k join assignment must reproduce the literal path bit-exactly")
  }

  test("training at k=256 runs through the join path (production IVF " +
      "centroid counts)") {
    // 2000 deterministic vectors, dim 8 — k=256 > literalKMax=64, so the
    // literal-argmax codegen (which would blow the 64KB method limit at
    // production k) is never built
    val corpus = spark.range(2000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        d => (pmod(col("id") * 31 + d * 17, lit(97)).cast("double") / 97d)
          .cast("float"))
        .as("embedding"))
    val cent = Similarity.trainCentroids(corpus, nCentroids = 256, iters = 2)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(cent.nonEmpty && cent.size <= 256,
      s"expected <= 256 surviving cells, got ${cent.size}")
    assert(cent.forall(_._2.size == 8), "centroid dim must match corpus")
    // the trained relation drops into the standard probe path
    val out = Similarity.topKIvf(corpus, corpus.filter($"vec_id" < 3), 5,
      centroids = Some(Similarity.trainCentroids(corpus, 256, iters = 2)))
      .collect()
    assert(out.nonEmpty)
  }

  test("k-means|| init is deterministic, bounded, and feeds Lloyd") {
    val a = Similarity.initKMeansParallel(emb, k = 6)
    val b = Similarity.initKMeansParallel(emb, k = 6)
    assert(a == b, "hash-derived sampling must be run-stable")
    assert(a.size == 6, s"corpus >> k should yield exactly k seeds: ${a.size}")
    assert(a.map(_._1) == (0L until 6L), "seeds are renumbered 0..k-1")
    val trained = Similarity.trainCentroids(emb, nCentroids = 6, iters = 2,
      init = "parallel").as[(Long, Seq[Float])].collect()
    assert(trained.nonEmpty && trained.length <= 6)
    // distinct cache key from the first-N init at the same (k, iters)
    assert(Similarity.centroidKey(emb, 6, 2, "parallel") !=
      Similarity.centroidKey(emb, 6, 2, "first"))
    // empty corpus degrades to no seeds, not an exception
    assert(Similarity.initKMeansParallel(
      emb.filter(lit(false)), k = 4).isEmpty)
  }

  test("ensureIvfIndex force flag rebuilds despite a matching stamp") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-force")
      .toString
    assert(Similarity.ensureIvfIndex(emb, dir, nCentroids = 4))
    assert(!Similarity.ensureIvfIndex(emb, dir, nCentroids = 4),
      "matching stamp reuses")
    assert(Similarity.ensureIvfIndex(emb, dir, nCentroids = 4, force = true),
      "force must rebuild even with a matching stamp — the out-of-band " +
        "mutation hatch (mtime-preserving restores the fingerprint misses)")
    assert(!Similarity.ensureIvfIndex(emb, dir, nCentroids = 4),
      "a forced rebuild re-stamps, so the next ensure reuses again")
  }

  test("assignCellsCoarse equals the flat argmax when probing all " +
      "groups, and agrees near-totally at nprobeGroups=1 on real data") {
    val cents = Similarity.trainCentroids(emb, nCentroids = 8)
    val flat = Similarity.assignCellsFlat(emb, cents)
      .collect().map(_.toString).sorted.toSeq
    // probing every coarse group makes stage 2 an argmax over ALL
    // centroids — exactly the flat assignment (the correctness anchor)
    val full = Similarity.assignCellsCoarse(emb, cents, coarseK = 3,
        nprobeGroups = 3)
      .select($"cid".as("vec_id"), $"cell")
      .collect().map(_.toString).sorted.toSeq
    assert(full == flat)
    // approximation quality on the real embedding table: k = 8 over 3
    // coarse groups is the WORST case for the route (group boundaries
    // cut through most of the space — at production k the groups are
    // finer and SCALE.md round 11 has the real number); the
    // nprobeGroups dial must buy agreement back monotonically
    def agreement(p: Int): Double = {
      val agree = flat.toSet
      Similarity.assignCellsCoarse(emb, cents, nprobeGroups = p)
        .select($"cid".as("vec_id"), $"cell")
        .collect().map(_.toString).count(agree.contains).toDouble / flat.size
    }
    val a1 = agreement(1)
    val a2 = agreement(2)
    assert(a1 >= 0.6, s"nprobe=1 agreement too low: $a1")
    assert(a2 >= a1 && a2 >= 0.85,
      s"nprobe=2 must recover agreement: $a1 -> $a2")
  }

  test("trainCentroidsSampled: full-corpus sample reproduces " +
      "trainCentroids exactly; small samples still quantize well") {
    // sample >= corpus -> the re-id map is the identity permutation of
    // vec_id order, so training must match the full run bit-for-bit
    val full = Similarity.trainCentroids(emb, nCentroids = 4)
      .collect().map(_.toString).sorted.toSeq
    val all = Similarity.trainCentroidsSampled(emb, nCentroids = 4,
        maxTrainRows = Int.MaxValue)
      .collect().map(_.toString).sorted.toSeq
    assert(all == full)
    // a genuine subsample trains different but comparable centroids:
    // quantization quality within a few percent of the full run
    val sub = Similarity.trainCentroidsSampled(emb, nCentroids = 4,
      maxTrainRows = 100)
    val qFull = Similarity.meanAssignedCosine(emb,
      Similarity.trainCentroids(emb, nCentroids = 4))
    val qSub = Similarity.meanAssignedCosine(emb, sub)
    assert(qSub >= qFull - 0.05,
      s"sampled training quality collapsed: $qSub vs $qFull")
  }

  test("dedupClustersAuto converges in-probe on shallow graphs and " +
      "switches to alternating-star on deep chains, same labels both ways") {
    val docsDf = (0L to 20L).toDF("doc_id")
    // shallow: two 2-cliques -> probe converges, min-label IS the answer
    val shallow = Seq((0L, 1L), (5L, 6L)).toDF("da", "db")
    val a1 = Dedup.dedupClustersAuto(docsDf, shallow)
      .collect().map(_.toString).sorted.toSeq
    val b1 = Dedup.dedupClusters(docsDf, shallow)
      .collect().map(_.toString).sorted.toSeq
    assert(a1 == b1)
    // deep: a 20-hop chain -> min-label needs ~20 rounds, the 5-round
    // probe hits its cap and the alternating-star branch takes over
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("da", "db")
    val a2 = Dedup.dedupClustersAuto(docsDf, chain, probeRounds = 5)
      .collect().map(_.toString).sorted.toSeq
    val b2 = Dedup.dedupClusters(docsDf, chain)
      .collect().map(_.toString).sorted.toSeq
    assert(a2 == b2, "auto (alternating branch) must match min-label labels")
    assert(a2.count(_.endsWith(",0]")) == 21,
      s"all 21 chained docs must label to component-min 0: $a2")
  }

  test("bpeTokenCount applies the checked-in merges in training order " +
      "and keeps zero-rows for wordless docs") {
    // fixture merges include (e,r) then (i,n): "erin" -> [er, in] = 2
    // subtokens; "xyz" has no applicable merge -> 3 chars
    val m = graft.ext.TextAnalysis.bpeMerges
    assert(m.take(2) == Seq(("e", "r"), ("i", "n")),
      s"fixture head changed: ${m.take(2)}")
    val d = Seq((1L, "s", "erin xyz erin"), (2L, "s", " ")) // doc 2: no words
      .toDF("doc_id", "source", "text")
    val got = graft.ext.TextAnalysis.bpeTokenCount(d)
      .orderBy($"doc_id").collect().map(_.toString).toSeq
    // doc 2's trim -> "" tokenizes to [""] (the x01 contract): one empty
    // word of zero subtokens
    assert(got == Seq("[1,3,7]", "[2,1,0]"), got.toString)
    // a run of the same mergeable pair follows the tokenizer's greedy
    // left-to-right rule: with (e,r)... no (a,a)-style merge exists in
    // the fixture, so check wrap-encoding via a repeated-pair word
    val rep = Seq((1L, "s", "erererer")).toDF("doc_id", "source", "text")
    val n = graft.ext.TextAnalysis.bpeTokenCount(rep).collect()(0).getLong(2)
    assert(n == 4, s"erererer must be [er,er,er,er]: $n") // 4 er symbols
  }

  test("simhashNearDupWide equals brute-force 120-bit Hamming pairs and " +
      "finds the exact/near duplicates") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fixture = Seq(
      (1L, "s", base),
      (2L, "s", base), // exact dup -> hamming 0
      (3L, "s", base.replace("kappa", "lambda")), // near dup
      (4L, "s", "entirely different words about completely other topics"),
      (5L, "s", "yet another unrelated document body full of text"))
      .toDF("doc_id", "source", "text")
    val banded = Dedup.simhashNearDupWide(fixture, radius = 3, blocks = 8)
      .collect().map(_.toString).sorted.toSeq
    val sh = fixture.select($"doc_id",
      graft.ext.TextAnalysis.simhash($"text").as("sh1"),
      graft.ext.TextAnalysis.simhashSalted($"text", "w2:").as("sh2"))
    val a = sh.select($"doc_id".as("da"), $"sh1".as("s1a"), $"sh2".as("s2a"))
    val brute = a.join(
        sh.select($"doc_id".as("db"), $"sh1".as("s1b"), $"sh2".as("s2b")),
        $"da" < $"db")
      .select($"da", $"db",
        (bit_count($"s1a".bitwiseXOR($"s1b")) +
          bit_count($"s2a".bitwiseXOR($"s2b"))).as("hamming"))
      .filter($"hamming" <= 3)
      .collect().map(_.toString).sorted.toSeq
    assert(banded == brute)
    assert(banded.exists(_.contains("[1,2,0]")),
      s"exact dup must collide at hamming 0: $banded")
  }

  test("extendDedupIndex: incremental pairs+labels equal a batch " +
      "rebuild; stamps roll forward; drifted base falls back to rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-ext")
      .toString
    // near-dups STRADDLE the base/batch split on purpose
    val all = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta gamma delta epsilon eta"),
      (3L, "s2", "totally different text entirely other words here"),
      (10L, "s1", "alpha beta gamma delta epsilon theta"), // dups 1,2
      (11L, "s2", "totally different text entirely other words also"), // dups 3
      (12L, "s2", "an unrelated singleton document body of words"))
      .toDF("doc_id", "source", "text")
    val base = all.filter($"doc_id" < 10)
    val batch = all.filter($"doc_id" >= 10)
    assert(Dedup.ensureDedupIndex(base, dir))
    assert(Dedup.extendDedupIndex(base, batch, dir),
      "matching base stamp must extend")
    // incremental artifacts == full batch rebuild
    val pairsInc = Dedup.readDedupPairs(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val pairsFull = Dedup.jaccardPairsIndexHashed(all, 3, 0.5)
      .collect().map(_.toString).sorted.toSeq
    assert(pairsInc == pairsFull && pairsFull.nonEmpty)
    val clustersInc = Dedup.readDedupClusters(all, dir)
      .collect().map(_.toString).sorted.toSeq
    val clustersFull = Dedup
      .dedupClusters(all, Dedup.jaccardPairsIndexHashed(all, 3, 0.5))
      .collect().map(_.toString).sorted.toSeq
    assert(clustersInc == clustersFull)
    // the stamp now covers the union: ensure over it reuses, and a
    // repeated extend is an idempotent no-op
    assert(!Dedup.ensureDedupIndex(base.union(batch), dir))
    assert(!Dedup.extendDedupIndex(base, batch, dir))
    // a drifted base (stamp mismatch) must fall back to a full rebuild
    // of the new union, not silently merge onto foreign artifacts
    val otherBase = all.filter($"doc_id" <= 2)
    assert(Dedup.extendDedupIndex(otherBase, batch, dir),
      "stamp mismatch must rebuild")
    val rebuilt = Dedup.readDedupPairs(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val expected = Dedup
      .jaccardPairsIndexHashed(otherBase.union(batch), 3, 0.5)
      .collect().map(_.toString).sorted.toSeq
    assert(rebuilt == expected)
  }

  test("a crashed extend (stamp gone, artifacts already mutated) retries " +
      "as a full rebuild — never re-extends onto extended pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-crash")
      .toString
    val all = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta gamma delta epsilon eta"),
      (10L, "s1", "alpha beta gamma delta epsilon theta"))
      .toDF("doc_id", "source", "text")
    val base = all.filter($"doc_id" < 10)
    val batch = all.filter($"doc_id" >= 10)
    assert(Dedup.ensureDedupIndex(base, dir))
    assert(Dedup.extendDedupIndex(base, batch, dir))
    val once = Dedup.readDedupPairs(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    // simulate the crash window: the extend mutated pairs/clusters but
    // died before re-stamping — exactly the state deleteStamp guarantees
    graft.engine.AtRest.deleteStamp(spark, dir, "_graft_dedup_meta")
    // the retry must NOT find a base stamp and re-union the batch pairs
    // onto the already-extended relation; it falls back to a full
    // rebuild of the union, and the pair set is unchanged (no dupes)
    assert(Dedup.extendDedupIndex(base, batch, dir),
      "stampless dir must rebuild")
    val retried = Dedup.readDedupPairs(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(retried == once && once.nonEmpty,
      s"retry after crash must be duplicate-free: $retried vs $once")
  }

  test("extendDedupIndexLsh: incremental LSH pairs+labels equal the " +
      "exact batch rebuild on a clean corpus; banding drift rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-lsh")
      .toString
    val all = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta gamma delta epsilon eta"),
      (3L, "s2", "totally different text entirely other words here"),
      (10L, "s1", "alpha beta gamma delta epsilon theta"), // dups 1,2
      (11L, "s2", "totally different text entirely other words also"), // dups 3
      (12L, "s2", "an unrelated singleton document body of words"))
      .toDF("doc_id", "source", "text")
    val base = all.filter($"doc_id" < 10)
    val batch = all.filter($"doc_id" >= 10)
    assert(Dedup.ensureDedupIndexLsh(base, dir))
    assert(Dedup.extendDedupIndexLsh(base, batch, dir),
      "matching base stamp + banding must extend")
    // clean corpus -> auto lands on r=2 whose recall here is exact, so
    // the incremental LSH artifacts equal the EXACT full rebuild
    val pairsInc = Dedup.readDedupPairs(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val pairsFull = Dedup.jaccardPairsIndexHashed(all, 3, 0.5)
      .collect().map(_.toString).sorted.toSeq
    assert(pairsInc == pairsFull && pairsFull.nonEmpty)
    val clustersInc = Dedup.readDedupClusters(all, dir)
      .collect().map(_.toString).sorted.toSeq
    val clustersFull = Dedup
      .dedupClusters(all, Dedup.jaccardPairsIndexHashed(all, 3, 0.5))
      .collect().map(_.toString).sorted.toSeq
    assert(clustersInc == clustersFull)
    // stamp rolled forward: union ensure reuses, repeat extend no-ops
    assert(!Dedup.ensureDedupIndexLsh(base.union(batch), dir))
    assert(!Dedup.extendDedupIndexLsh(base, batch, dir))
    // the at-rest key index rolled forward too: base + batch band rows
    val params = Dedup.lshIndexParams(all, 3)
    assert(spark.read.parquet(s"$dir/bands").count() ==
      all.count() * params._2)
    // an at-rest stamp whose banding differs from the union build's
    // must REBUILD (never probe batch keys against keys hashed under
    // other banding): rewrite the sidecar's b= field to another count
    val meta = "_graft_dedup_lsh_meta"
    val stamped = graft.engine.AtRest.readStamp(spark, dir, meta)
    val bField = s"b=${params._2}"
    assert(stamped.exists(_.split(":").contains(bField)),
      s"the stamp must carry the banding as $bField: $stamped")
    val drifted = stamped.get.split(":")
      .map(f => if (f == bField) s"b=${params._2 / 2}" else f)
      .mkString(":")
    // through the Hadoop FS API, so the local store's .crc stays valid
    val metaPath = new org.apache.hadoop.fs.Path(dir, meta)
    val out = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
      .create(metaPath, true)
    try out.write(drifted.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    assert(Dedup.extendDedupIndexLsh(base, batch, dir),
      "banding drift must rebuild")
    assert(graft.engine.AtRest.readStamp(spark, dir, meta) == stamped,
      "the rebuild must re-stamp the union under its own banding")
    assert(spark.read.parquet(s"$dir/bands").count() ==
      all.count() * params._2)
    val rebuilt = Dedup.readDedupPairs(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(rebuilt == pairsFull)
  }

  test("jaccardPairsLshAuto picks r=2 on clean corpora, r=4 on saturated " +
      "ones, and matches the fixed-band output") {
    // clean: disjoint vocabularies -> zero measured band collisions ->
    // bands = nh/2 (r=2)
    val clean = (0 until 24).map(i =>
      (i.toLong, "s", s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"))
      .toDF("doc_id", "source", "text")
    val (cleanHashes, cleanBands, cleanMass) = Dedup.chooseLshBands(clean, 3, 128)
    assert(cleanMass < 32 && cleanHashes == 128 && cleanBands == 64)
    // saturated: every doc is mostly the same boilerplate -> the
    // measured r=2 collision mass blows past the linear budget -> r=4
    val boiler = (0 until 24).map(_ => "the same boilerplate run of words"
      + " repeated across every single page in this scraped corpus")
    val sat = boiler.zipWithIndex.map { case (b, i) =>
      (i.toLong, "s", s"$b tail$i") }
      .toDF("doc_id", "source", "text")
    val (satHashes, satBands, satMass) = Dedup.chooseLshBands(sat, 3, 128)
    assert(satMass > 32 && satHashes == 256 && satBands == 64,
      s"saturated corpus must pick r=4 at the DOUBLED hash budget " +
        s"(mass=$satMass, hashes=$satHashes, bands=$satBands)")
    // auto == fixed-band output at the chosen parametrization
    val auto = Dedup.jaccardPairsLshAuto(sat, 3, 0.5)
      .collect().map(_.toString).sorted.toSeq
    val fixed = Dedup.jaccardPairsLsh(sat, 3, 0.5, satHashes, satBands)
      .collect().map(_.toString).sorted.toSeq
    assert(auto == fixed && auto.nonEmpty)
  }

  test("ensureDedupIndex builds once, reuses on unchanged data, rebuilds " +
      "on param or corpus change; at-rest reads equal the live build") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-ensure")
      .toString
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-dedup-corpus").toString
    def writeCorpus(tag: String): Unit = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta gamma delta epsilon eta"),
      (3L, "s2", s"completely different text entirely $tag words here"),
      (4L, "s2", "another unrelated document body of words"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(corpusDir)
    writeCorpus("one")
    val d1 = spark.read.parquet(corpusDir)
    assert(Dedup.ensureDedupIndex(d1, dir), "first ensure must build")
    assert(!Dedup.ensureDedupIndex(d1, dir),
      "unchanged (data, params) must reuse the artifacts at rest")
    assert(Dedup.ensureDedupIndex(d1, dir, threshold = 0.4),
      "changed params must rebuild")
    writeCorpus("two")
    val d2 = spark.read.parquet(corpusDir)
    assert(Dedup.ensureDedupIndex(d2, dir, threshold = 0.4),
      "rewritten corpus files must invalidate the stamp")
    assert(Dedup.ensureDedupIndex(d2, dir),
      "returning to default params is a different stamp — rebuild")
    // the at-rest artifacts serve the same relations as a live build
    val livePairs = Dedup.jaccardPairsIndexHashed(d2, 3, 0.5)
      .collect().map(_.toString).sorted.toSeq
    val restPairs = Dedup.readDedupPairs(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(restPairs == livePairs && livePairs.nonEmpty)
    val liveClusters = Dedup
      .dedupClusters(d2, Dedup.jaccardPairsIndexHashed(d2, 3, 0.5))
      .collect().map(_.toString).sorted.toSeq
    val restClusters = Dedup.readDedupClusters(d2, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(restClusters == liveClusters)
    // force is the out-of-band-mutation hatch, and re-stamps
    assert(!Dedup.ensureDedupIndex(d2, dir))
    assert(Dedup.ensureDedupIndex(d2, dir, force = true))
    assert(!Dedup.ensureDedupIndex(d2, dir))
  }

  test("x47 resident probe equals x15's in-query IVF output and reuses " +
      "the index after the first build") {
    val x15 = graft.queries.ExtQueries.queries("x15_ann_topk_ivf")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val first = graft.queries.ExtQueries
      .queries("x47_ann_topk_ivf_resident")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val second = graft.queries.ExtQueries
      .queries("x47_ann_topk_ivf_resident")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(first == x15, "resident probe must equal the in-query IVF path")
    assert(second == first)
    // the query's own path is now warm: the same ensure must be a no-op
    val path = graft.queries.ExtQueries.ivfIndexPathForTest(spark, sf,
      "resident")
    assert(!Similarity.ensureIvfIndex(
      Tables.load(spark, sf, "embeddings"), path, nCentroids = 8),
      "second call must REUSE the at-rest index, not rebuild")
  }

  test("repeatedSpans flags non-canonical occurrences and merges " +
      "overlapping windows into maximal spans") {
    val d = Seq(
      (1L, "a b c d e f g h"),       // canonical source of every dup run
      (2L, "x x a b c d e f y y"),   // shares the 6-token run a..f at 3-8
      (3L, "a b c d"),               // exactly one duplicated 4-window
      (4L, "too short")              // < l tokens: no windows at all
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(d, l = 4)
      .orderBy(col("doc_id"), col("span_start"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc 1 holds the lexicographically-first occurrence of every
    // duplicated window, so it survives untouched; doc 2's three
    // overlapping flagged windows (starts 3,4,5) merge into one span
    // reconstructing the full shared run; doc 3's single window is one
    // minimal span
    assert(out == Seq((2L, 3L, 8L, 3L), (3L, 1L, 4L, 1L)))
    // span length lower bound: nothing shorter than l is ever flagged
    assert(out.forall { case (_, s, e, _) => e - s + 1 >= 4 })
    // the declared corpus has planted near-dups → nonempty, all spans >= l
    val corpus = Dedup.repeatedSpans(docs, l = 16)
      .as[(Long, Long, Long, Long)].collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall { case (_, s, e, _) => e - s + 1 >= 16 })
  }

  test("removeSpans excises span tokens, keeps canonical text intact, " +
      "and surfaces fully-scrubbed docs") {
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d e f y y"),
      (3L, "a b c d"),
      (4L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.removeSpans(d, Dedup.repeatedSpans(d, l = 4))
      .orderBy(col("doc_id"))
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a b c d e f g h", 8L, 0L),   // canonical: untouched
      (2L, "x x y y", 4L, 6L),           // span 3-8 excised, order kept
      (3L, "", 0L, 4L),                  // fully scrubbed, still a row
      (4L, "too short", 2L, 0L)))        // no windows, passes through
    // global token conservation: kept + removed == original count
    val corpus = Dedup.removeSpans(docs, Dedup.repeatedSpans(docs, l = 16))
    val sums = corpus.agg(sum($"n_kept"), sum($"n_removed"))
      .as[(Long, Long)].collect()(0)
    val total = docs.select(
      sum(size(graft.ext.TextAnalysis.tokens($"text"))).cast("long"))
      .as[Long].collect()(0)
    assert(sums._1 + sums._2 == total)
    assert(sums._2 > 0, "planted near-dups must produce removals")
    assert(corpus.count() == docs.count(), "every doc yields a row")
  }

  test("chunkDocs drops empty and whitespace-only documents instead of " +
      "fabricating degenerate chunks") {
    import graft.ext.TextAnalysis
    val d = Seq((1L, "one two three"), (2L, ""), (3L, "   \t  "),
      (4L, "four")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(d, chunkTokens = 8, overlap = 0)
      .as[(Long, Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq(1L, 4L),
      "empty/whitespace docs must yield zero chunks")
    assert(out.forall(c => c._3.nonEmpty && c._4 > 0))
  }

  test("repetitionMetrics: argmax tie-break, char fractions, short-doc " +
      "defaults, band gate") {
    import graft.ext.TextAnalysis
    val d = Seq(
      (1L, "a b a b a b"),     // top bigram "a b" ×3 of 5; "b a" ×2
      (2L, "one"),             // no bigrams → defaults
      (3L, "x y z w"),         // all bigrams unique, no dup trigrams
      (4L, "c d e c d e c d e") // trigram "c d e" ×3 → dup mass
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionMetrics(d).orderBy($"doc_id")
      .as[(Long, String, Double, Double, Boolean)].collect().toSeq
    // doc 1: text len 11, "a b" (len 3) ×3 → 9/11; dup trigrams:
    // "a b a" ×2 + "b a b" ×2 → (2+2)*5/11
    assert(out(0) == (1L, "a b", math.rint(9.0 / 11 * 1e6) / 1e6,
      math.rint(20.0 / 11 * 1e6) / 1e6, false))
    assert(out(1) == (2L, "", 0.0, 0.0, true))
    assert(out(2)._2 == "x y" && out(2)._4 == 0.0 && out(2)._5 == false)
    // doc 4: len 17; top "c d" ×3 (tie "d e" ×3 → lexicographic min wins)
    assert(out(3)._2 == "c d")
    assert(out(3)._3 == math.rint(9.0 / 17 * 1e6) / 1e6)
    // corpus: every doc yields exactly one row
    val n = TextAnalysis.repetitionMetrics(docs).count()
    assert(n == docs.count())
  }

  test("packSequences: deterministic concat-and-cut, budget boundaries, " +
      "token conservation per shard") {
    import graft.ext.Export
    val d = Seq(
      ("s1", 1L, 3), ("s1", 2L, 4), ("s1", 3L, 5), ("s1", 4L, 2),
      ("s2", 10L, 9), ("s2", 11L, 1)
    ).toDF("source", "doc_id", "nt")
    val out = Export.packSequences(d, $"source", $"doc_id", $"nt", budget = 8)
      .orderBy($"part", $"pack_id")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // s1 offsets: 0,3,7,12 → packs 0,0,0,1 ; s2 offsets: 0,9 → packs 0,1
    assert(out == Seq(
      ("s1", 0L, 3L, 12L, 1L, 3L),
      ("s1", 1L, 1L, 2L, 4L, 4L),
      ("s2", 0L, 1L, 9L, 10L, 10L),
      ("s2", 1L, 1L, 1L, 11L, 11L)))
    // corpus-level: token mass is conserved shard-by-shard
    import graft.ext.TextAnalysis.tokenCount
    val packed = Export.packSequences(docs, $"source", $"doc_id",
      tokenCount($"text"), budget = 512)
    val perSrcPacked = packed.groupBy($"part")
      .agg(sum($"pack_tokens").as("t")).as[(String, Long)].collect().toMap
    val perSrcRaw = docs.groupBy($"source")
      .agg(sum(tokenCount($"text").cast("long")).as("t"))
      .as[(String, Long)].collect().toMap
    assert(perSrcPacked == perSrcRaw)
    // pack ids start at 0 per shard (dense only while every doc fits the
    // budget — a doc larger than the budget legitimately skips ids, so
    // density is deliberately NOT asserted; see the PropertySpec oracle)
    val ids = packed.groupBy($"part").agg(min($"pack_id"))
      .as[(String, Long)].collect()
    assert(ids.forall(_._2 == 0L))
  }

  test("mixtureWeights: weights normalize to ~1, flat corpus → uniform, " +
      "sample_factor boosts small sources at T>1") {
    import graft.ext.Selection
    val d = Seq.tabulate(40) { i =>
      val src = if (i < 30) "big" else "small"
      (i.toLong, src, Seq.fill(10)("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val out = Selection.mixtureWeights(d, temperature = 2.0)
      .orderBy($"source")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(out.map(_._1) == Seq("big", "small"))
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-5)
    // T=2 compresses the ratio: big is 3× small by mass but only √3× by
    // weight → small's sample_factor > 1 (oversampled), big's < 1
    val (big, small) = (out(0), out(1))
    assert(big._3 == 300L && small._3 == 100L)
    assert(small._5 > 1.0 && big._5 < 1.0)
    // degenerate T=1 (proportional): factors are all exactly ~1
    val prop = Selection.mixtureWeights(d, temperature = 1.0)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(prop.forall(r => math.abs(r._5 - 1.0) < 1e-4))
  }

  test("vocabCoverage: counts, deterministic tie order, monotone cum_frac " +
      "reaching total only if vocab <= k") {
    import graft.ext.TextAnalysis
    val d = Seq((1L, "a a a b b c"), (2L, "b c d")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(d, k = 3)
      .as[(String, Long, Double)].collect().toSeq
    // counts: a=3, b=3, c=2, d=1; ties a/b break lexicographically
    assert(out.map(t => (t._1, t._2)) == Seq(("a", 3L), ("b", 3L), ("c", 2L)))
    assert(out.map(_._3) == Seq(
      math.rint(3.0 / 9 * 1e6) / 1e6,
      math.rint(6.0 / 9 * 1e6) / 1e6,
      math.rint(8.0 / 9 * 1e6) / 1e6))
    // corpus: cum_frac is strictly increasing and bounded by 1
    val fr = TextAnalysis.vocabCoverage(docs, k = 20)
      .as[(String, Long, Double)].collect().map(_._3).toSeq
    assert(fr == fr.sorted && fr.last <= 1.0)
  }

  test("topKIvfPq: ADC distances equal full-PQ on shared pairs, every " +
      "candidate lies in a probed cell, deterministic") {
    val q = emb.filter($"vec_id" < 10)
    val ivfpq = Similarity.topKIvfPq(emb, q, k = 10)
      .as[(Long, Int, Long, Double)].collect()
    assert(ivfpq.nonEmpty)
    // same (qid,cid) pair → identical ADC distance as the unpruned PQ
    // ranking (pruning changes WHICH pairs surface, never their score)
    val pq = Similarity.topKPq(emb, q, k = 10)
      .as[(Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    val shared = ivfpq.filter(r => pq.contains((r._1, r._3)))
    assert(shared.nonEmpty)
    assert(shared.forall(r => pq((r._1, r._3)) == r._4))
    // pruning contract: each returned cid's cell is one of its query's
    // probed cells
    val cent = emb.filter($"vec_id" < 8)
    val cells = Similarity.cellAssignments(emb, cent)
      .as[(Long, Long)].collect().toMap
    val probed = Similarity.topKIvf(emb, q, k = Int.MaxValue, nprobe = 2)
      .select($"qid", $"cid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(p => cells(p._2)).toSet).toMap
    assert(ivfpq.forall(r => probed(r._1).contains(cells(r._3))))
    // determinism: a re-run is row-identical
    val rerun = Similarity.topKIvfPq(emb, q, k = 10)
      .as[(Long, Int, Long, Double)].collect()
    assert(rerun.toSeq == ivfpq.toSeq)
  }

  test("clusterTopicLabels: distinctive tokens win over shared ones, " +
      "topN bound and tie order hold") {
    import graft.ext.Selection
    // two 1-doc cells with planted vocabularies: "shared" appears in
    // both (low c-TF-IDF), apple/banana are cell-exclusive (high)
    val d = Seq(
      (0L, "apple apple apple shared shared"),
      (1L, "banana banana banana shared shared")).toDF("doc_id", "text")
    val e = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val cents = e // each vector its own centroid → identity cells
    val out = Selection.clusterTopicLabels(d, e, cents, topN = 2)
      .orderBy($"cell", $"rank")
      .as[(Long, Int, String, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) == Seq(
      (0L, 1, "apple"), (0L, 2, "shared"),
      (1L, 1, "banana"), (1L, 2, "shared")))
    // the exclusive token outscores the shared one in both cells
    assert(out(0)._5 > out(1)._5 && out(2)._5 > out(3)._5)
    // corpus: every cell labeled, exactly topN rows per cell, ranks dense
    val corpus = Selection.clusterTopicLabels(docs, emb,
      emb.filter($"vec_id" < 8), topN = 3)
      .as[(Long, Int, String, Long, Double)].collect()
    assert(corpus.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._2).sorted.toSeq == (1 to rows.length) &&
        rows.length <= 3 })
  }

  test("sourceDriftMatrix: zero for identical sources, positive and " +
      "symmetric-input drift for disjoint vocabularies") {
    import graft.ext.Selection
    val mk = (src: String, off: Int, word: String) => (0 until 4).map(i =>
      ((off + i).toLong, src, s"$word$i $word${i + 1} $word$i"))
    val d = (mk("s1", 0, "alpha") ++ mk("s2", 10, "alpha") ++
      mk("s3", 20, "omega")).toDF("doc_id", "source", "text")
    val out = Selection.sourceDriftMatrix(d)
      .orderBy($"src_a", $"src_b")
      .as[(String, String, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) ==
      Seq(("s1", "s2"), ("s1", "s3"), ("s2", "s3")))
    val kl = out.map(r => (r._1, r._2) -> r._3).toMap
    // identical token streams → zero divergence; disjoint vocab → > 0
    assert(kl(("s1", "s2")) == 0.0)
    assert(kl(("s1", "s3")) > 0 && kl(("s2", "s3")) > 0)
    // same underlying distributions → same drift against the outlier
    assert(kl(("s1", "s3")) == kl(("s2", "s3")))
  }

  test("signBits packs sign bitmap; packed Hamming equals per-dim " +
      "sign-difference count") {
    val dim = 64
    val pairs = emb.limit(20)
    val packed = pairs
      .select($"vec_id", Similarity.signBits($"embedding", dim).as("bits"),
        $"embedding")
      .as[(Long, Long, Seq[Float])].collect()
    packed.foreach { case (_, bits, e) =>
      (0 until dim).foreach { d =>
        assert(((bits >> d) & 1L) == (if (e(d) > 0f) 1L else 0L)) }
    }
    // packed xor+popcount == direct sign-difference count, all pairs
    for ((_, ba, ea) <- packed; (_, bb, eb) <- packed) {
      val direct = (0 until dim).count(d => (ea(d) > 0f) != (eb(d) > 0f))
      assert(java.lang.Long.bitCount(ba ^ bb) == direct)
    }
  }

  test("topKBinary: deterministic, candidates honor the Hamming cut, " +
      "rerank cosines equal brute") {
    val q = emb.filter($"vec_id" < 10)
    val out = Similarity.topKBinary(emb, q, k = 10, cands = 50)
      .as[(Long, Int, Long, Int, Double)].collect().toSeq
    val again = Similarity.topKBinary(emb, q, k = 10, cands = 50)
      .as[(Long, Int, Long, Int, Double)].collect().toSeq
    assert(out == again)
    assert(out.groupBy(_._1).forall(_._2.length == 10))
    // every reranked cosine equals the brute cosine for that (qid, cid)
    val brute = Similarity.topKBrute(emb, q, k = Int.MaxValue)
      .select($"qid", $"cid", $"cos")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    out.foreach { case (qid, _, cid, _, cos) =>
      assert(brute((qid, cid)) == cos) }
    // with cands = corpus size the rerank IS brute top-k
    val n = emb.count().toInt
    val full = Similarity.topKBinary(emb, q, k = 10, cands = n)
      .select($"qid", $"rank", $"cid", $"cos")
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    val bruteTop = Similarity.topKBrute(emb, q, k = 10)
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    assert(full == bruteTop)
  }

  test("centroidOutliers: planted far vector ranks first, cells match " +
      "cellAssignments") {
    // 3 tight vectors near e1, one anti-aligned outlier
    val e = Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f)),
      (2L, Seq(0.95f, 0.05f, 0f)), (3L, Seq(-1f, 0.3f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.centroidOutliers(e, cents, n = 4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.head._1 == 3L, "anti-aligned vector is the top outlier")
    assert(out.map(_._3) == out.map(_._3).sorted)
    // cells agree with the index's assignment on the real corpus
    val cent8 = Similarity.trainCentroids(emb, nCentroids = 8)
    val cells = Similarity.cellAssignments(emb, cent8)
      .as[(Long, Long)].collect().toMap
    Similarity.centroidOutliers(emb, cent8, n = 20)
      .as[(Long, Long, Double)].collect()
      .foreach { case (vid, cell, _) => assert(cells(vid) == cell) }
  }

  test("hardNegatives: positive shares the query label, negatives differ " +
      "and rank by cosine") {
    val labels = emb.select($"vec_id", $"label")
      .as[(Long, Int)].collect().toMap
    val out = Similarity.hardNegatives(emb, emb.filter($"vec_id" < 10), k = 5)
      .as[(Long, Long, Double, Int, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.foreach { case (qid, posCid, _, _, negCid, _) =>
      assert(labels(posCid) == labels(qid), "positive keeps the label")
      assert(labels(negCid) != labels(qid), "negative crosses the label")
    }
    // negatives are descending in cosine within each query, ranks dense
    out.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to rows.length))
      assert(sorted.map(_._6).toSeq == sorted.map(_._6).sorted.reverse.toSeq)
      // the positive is the single best same-label neighbor: no negative
      // needed here, but the positive cosine must be a real pair score
      assert(sorted.head._3 >= -1.0 && sorted.head._3 <= 1.0)
    }
  }

  test("tfidfCosinePairs: identical docs score 1.0; corpus-universal " +
      "terms carry zero weight and create no pairs") {
    val d = Seq((0L, "alpha beta"), (1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val out = Dedup.tfidfCosinePairs(d, threshold = 0.5, n = 1)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 1L, 1.0)))
    // every term in every doc → all idf 0 → no candidate pairs at all
    val uni = Seq((0L, "common one"), (1L, "common one"), (2L, "common one"))
      .toDF("doc_id", "text")
    // "common" and "one" both have df = N → pruned; identical docs
    // produce NO pair because no nonzero-weight term survives
    assert(Dedup.tfidfCosinePairs(uni, threshold = 0.01, n = 1).isEmpty)
    // weighted-vs-set divergence: rare-term overlap outscores Jaccard.
    // d3/d4 share only the rare term, d5 shares only boilerplate with d3
    val mix = Seq(
      (3L, "rareword filler1 filler2"),
      (4L, "rareword fillerA fillerB"),
      (5L, "stop stop stop stop")).toDF("doc_id", "text")
    val pairs = Dedup.tfidfCosinePairs(mix, threshold = 0.05, n = 1)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.contains((3L, 4L)), "rare shared term links the pair")
  }

  test("tfidfCosinePairs shingle mode (declared x81 form): multiplicity " +
      "counts, identical docs score 1.0, sub-n-token docs drop") {
    // identical 4-token docs → identical 3-gram multisets → cos 1.0;
    // doc 2 shares no shingle; doc 3 has < 3 tokens (no shingles at all)
    val d = Seq(
      (0L, "a b c d"), (1L, "a b c d"),
      (2L, "e f g h"), (3L, "a b")).toDF("doc_id", "text")
    val out = Dedup.tfidfCosinePairs(d, threshold = 0.5, n = 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 1L, 1.0)))
    // multiplicity: "a b a b a b" repeats the shingle "a b a" twice —
    // tf 2 must beat tf 1 when paired against a doc holding it once
    val rep = Seq(
      (0L, "a b a b a b"),   // shingles: aba, bab, aba, bab
      (1L, "a b a x y z"),   // shingles: aba, bax, axy, xyz
      (2L, "q r s t u v")).toDF("doc_id", "text")
    val cos = Dedup.tfidfCosinePairs(rep, threshold = 0.01, n = 3)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(cos.contains((0L, 1L)), "shared shingle links the pair")
    assert(!cos.keySet.exists { case (a, b) => a == 2L || b == 2L },
      "no shared shingle → no pair")
  }

  test("simhashNearDup: block-combination join equals brute all-pairs " +
      "Hamming, exact by pigeonhole, at both parametrizations") {
    // brute force in the driver over the same simhash values
    val sh = docs.select($"doc_id",
      graft.ext.TextAnalysis.simhash($"text").as("sh"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (da, sa) <- sh; (db, sb) <- sh if da < db
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (da, db, h)).toSet
    assert(brute.nonEmpty, "testdata plants near-identical docs")
    // production parametrization: C(6,3) = 20 combinations of 30-bit keys
    val out6 = Dedup.simhashNearDup(docs, radius = 3, blocks = 6)
      .as[(Long, Long, Int)].collect().toSet
    assert(out6 == brute)
    // degenerate parametrization: blocks = radius + 1 → C(4,1) = 4
    // single-slice 15-bit keys (the legacy banding) — same exact output
    val out4 = Dedup.simhashNearDup(docs, radius = 3, blocks = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(out4 == brute)
    // radius must stay under the block count for the pigeonhole bound
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(docs, radius = 4, blocks = 4)
    }
  }

  test("vocabGrowth: first-seen buckets, cumulative vocab/token mass, ttr") {
    import graft.ext.TextAnalysis
    val d = Seq((0L, "a b"), (1L, "a c"), (2L, "c d"), (3L, "a b c d e"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(d, bucketSize = 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 2L, 3L, 4L, 3L, 0.75),
      (1L, 2L, 2L, 11L, 5L, math.rint(5.0 / 11 * 1e6) / 1e6)))
    // real corpus: cumulative columns are monotone, final mass matches
    val real = TextAnalysis.vocabGrowth(docs, bucketSize = 50)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(real.map(_._4) == real.map(_._4).sorted)
    assert(real.map(_._5) == real.map(_._5).sorted)
    val totalToks = docs
      .select(TextAnalysis.tokenCount($"text")).as[Int].collect().map(_.toLong).sum
    assert(real.last._4 == totalToks)
  }

  test("dedupSavings: exact and fuzzy dup masses per source") {
    val d = Seq(
      (0L, "A", "x y z w q"), (1L, "A", "x y z w q"),
      (2L, "A", "totally different text here now"),
      (4L, "B", "p q r s t"), (5L, "B", "p q r s t u"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.dedupSavings(d)
      .as[(String, Long, Long, Long, Long, Long, Long, Double)]
      .collect().toSeq
    // A: d1 is an exact (and fuzzy) copy of d0; d2 unique
    // B: d5 is a fuzzy (j = 3/4) but not exact copy of d4
    assert(out == Seq(
      ("A", 3L, 15L, 1L, 5L, 1L, 5L, math.rint(5.0 / 15 * 1e6) / 1e6),
      ("B", 2L, 11L, 0L, 0L, 1L, 6L, math.rint(6.0 / 11 * 1e6) / 1e6)))
    // real corpus: ledger accounts for every doc, savings are fractions
    val real = Dedup.dedupSavings(docs)
      .as[(String, Long, Long, Long, Long, Long, Long, Double)]
      .collect().toSeq
    assert(real.map(_._2).sum == docs.count())
    real.foreach { r =>
      assert(r._8 >= 0.0 && r._8 <= 1.0)
      assert(r._4 <= r._2 && r._6 <= r._2)
    }
  }

  test("leakageSafeSplit: cluster members share the label's split; " +
      "singletons keep the plain x18 assignment") {
    import graft.ext.Sampling
    // clusters: {1,2} labeled 1, {4,5} labeled 4, singleton 3
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster")
    val out = Sampling.leakageSafeSplit(clusters)
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._2 == out(2L)._2, "cluster {1,2} must share a split")
    assert(out(4L)._2 == out(5L)._2, "cluster {4,5} must share a split")
    // the shared split IS the split of the label, and a singleton's
    // split equals the naive per-doc assignment
    val naive = Seq(1L, 3L, 4L).toDF("id")
      .select($"id", Sampling.split($"id").as("s"))
      .as[(Long, String)].collect().toMap
    assert(out(2L)._2 == naive(1L))
    assert(out(3L)._2 == naive(3L))
    assert(out(5L)._2 == naive(4L))
    // on the real corpus: no verified near-dup pair straddles splits
    val pairs = Dedup.jaccardPairsIndexHashed(docs, 3, 0.5)
    val split = Sampling.leakageSafeSplit(Dedup.dedupClusters(docs, pairs))
    val straddling = pairs
      .join(split.select($"doc_id".as("da"), $"split".as("sa")), "da")
      .join(split.select($"doc_id".as("db"), $"split".as("sb")), "db")
      .filter($"sa" =!= $"sb").count()
    assert(straddling == 0L)
  }

  test("splitLeakageAudit tabulates naive-split pairs; total preserved") {
    import graft.ext.Sampling
    val pairs = Dedup.jaccardPairsIndexHashed(docs, 3, 0.5)
    val audit = Sampling.splitLeakageAudit(pairs)
      .as[(String, String, Long)].collect().toSeq
    assert(audit.map(_._3).sum == pairs.count(),
      "every pair appears exactly once in the matrix")
    val valid = Set("train", "val", "test")
    audit.foreach { case (a, b, n) =>
      assert(valid(a) && valid(b) && n > 0)
    }
    // cross-check one cell against a direct recount
    val (ca, cb, cn) = audit.head
    val direct = pairs
      .select(Sampling.split($"da").as("sa"), Sampling.split($"db").as("sb"))
      .filter($"sa" === ca && $"sb" === cb).count()
    assert(cn == direct)
  }

  test("backoffLmScore: MLE, bigram-backoff and unigram-floor branches") {
    import graft.ext.Selection
    val d = Seq(
      (1L, "a b c a b c", "in"),
      (2L, "a b c", "in"),
      (3L, "a b x", "out"), // "a b x" unseen, "b x" unseen, "x" unseen
      (4L, "b c a", "out"), // trigram seen in training: MLE branch
      (5L, "hi", "out")) // < 3 tokens: absent from output
      .toDF("doc_id", "text", "source")
    val out = Selection.backoffLmScore(d, $"source" === "in")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    // training slice: tokens = 9 (N), vocab {a,b,c} (V=3)
    // bigram counts: "a b"->3, "b c"->3, "c a"->1
    // trigram counts: "a b c"->3 (2 in doc1 + 1 in doc2),
    //                 "b c a"->1, "c a b"->1
    assert(!out.contains(5L))
    assert(out(4L)._1 == 1L)
    assert(out(4L)._2 == r6(r6(-math.log(1.0 / 3))))
    // doc3 trigram "a b x": unigram floor 0.16 * (0+1) / (9+3)
    assert(out(3L)._2 == r6(r6(-math.log(0.16 * 1 / 12.0))))
    // doc1: "a b c" (3/3) x2, "b c a" (1/3), "c a b" (1/1)
    val d1 = (2 * r6(-math.log(1.0)) + r6(-math.log(1.0 / 3))
      + r6(-math.log(1.0))) / 4
    assert(out(1L)._1 == 4L && out(1L)._2 == r6(d1))
  }

  test("cmsHeavyHitters: one-sided overcount, exact at ample width") {
    import graft.ext.Sketches
    val words = docs.select(explode(
      graft.ext.TextAnalysis.tokens($"text")).as("w")).cache()
    val narrow = Sketches.cmsHeavyHitters(words, $"w", k = 20,
      width = 16, depth = 3)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(narrow.size == 20)
    narrow.foreach { case (_, est, tru, over) =>
      assert(est >= tru, "CMS must never undercount")
      assert(over == est - tru)
    }
    // rank is by estimate, descending
    assert(narrow.map(_._2) == narrow.map(_._2).sorted.reverse)
    // at width >> cardinality the estimate collapses to the exact count
    val nTerms = words.distinct().count()
    val wide = Sketches.cmsHeavyHitters(words, $"w", k = 20,
      width = 1 << 16, depth = 5)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(nTerms < (1 << 12), "fixture cardinality sanity")
    val exactTop = words.groupBy("w").count()
      .orderBy($"count".desc, $"w").limit(1)
      .as[(String, Long)].collect().head
    assert(wide.head._1 == exactTop._1 && wide.head._2 == exactTop._2)
    wide.foreach { case (_, est, tru, over) =>
      assert(over >= 0 && est >= tru)
    }
    words.unpersist()
  }

  /** Driver-side replication of the x90 HLL register derivation: md5 →
    * 60-bit value → (register, rank) — the same bytes the engine and
    * the DuckDB oracle compute.
    */
  private def hllRef(keys: Seq[String], p: Int): Map[Long, Int] = {
    val m = 1 << p
    val w = 60 - p
    keys.map { k =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(md.take(15), 16)
      val j = h % m
      val rest = h / m
      val rk = if (rest == 0L) w + 1
        else w + 1 - (64 - java.lang.Long.numberOfLeadingZeros(rest))
      (j, rk)
    }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
  }

  test("hllRegisters matches the driver-side md5 derivation; inserts " +
    "are idempotent; union-re-max merges sketches") {
    import graft.ext.Sketches
    val keys = (0 until 1000).map(i => s"key$i")
    val df = (keys ++ keys.take(100)) // duplicates must not move registers
      .toDF("k").withColumn("g", lit("a"))
    val got = Sketches.hllRegisters(df, $"k", $"g")
      .as[(String, Long, Int)].collect()
      .map { case (_, j, mx) => (j, mx) }.toMap
    assert(got == hllRef(keys, 6))
    // mergeability: re-maxed union of two disjoint halves == sketch of
    // the whole
    val h1 = Sketches.hllRegisters(
      keys.take(500).toDF("k").withColumn("g", lit("x")), $"k", $"g")
    val h2 = Sketches.hllRegisters(
      keys.drop(500).toDF("k").withColumn("g", lit("x")), $"k", $"g")
    val merged = h1.unionByName(h2).groupBy($"grp", $"j")
      .agg(max($"mx").as("mx"))
      .as[(String, Long, Int)].collect()
      .map { case (_, j, mx) => (j, mx) }.toMap
    assert(merged == hllRef(keys, 6))
  }

  test("hllEstimate lands within the published error envelope at " +
    "known cardinality") {
    import graft.ext.Sketches
    val n = 5000
    val df = (0 until n).map(i => s"v$i").toDF("k")
      .withColumn("g", lit("a"))
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(df, $"k", $"g"))
      .as[(String, Long, Double)].collect().head._3
    // σ = 1.04/√64 = 13%; 4σ is a deterministic-fixture-safe bracket
    assert(math.abs(est - n) < 4 * 1.04 / 8 * n,
      s"HLL estimate $est too far from $n")
  }

  test("minhashFidelity: identical docs estimate 1.0; j_est matches a " +
    "driver-side replication of the portable signature") {
    val P = graft.functions.MinHashSig.MersennePrime31
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "a b c d e f g x"),
      (4L, "q r s t u v w z")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashFidelity(d, n = 3, threshold = 0.3,
      numHashes = 16)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    val (j12, je12, err12) = out((1L, 2L))
    assert(j12 == 1.0 && je12 == 1.0 && err12 == 0.0)
    // driver-side signature replication for the (1,3) pair
    def shingles(t: String) = t.split(" ").sliding(3).map(_.mkString(" "))
      .toSeq.distinct
    def sig(t: String): Seq[Long] = {
      val hv = shingles(t).map { s =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(md.take(15), 16) % P
      }
      graft.functions.MinHashSig.seeds(16).toSeq.map { case (a, b) =>
        hv.map(h => (a * h + b) % P).min
      }
    }
    val expected = sig("a b c d e f g h").zip(sig("a b c d e f g x"))
      .count { case (x, y) => x == y } / 16.0
    val (_, je13, _) = out((1L, 3L))
    assert(je13 == math.rint(expected * 1e6) / 1e6)
  }

  test("retrievalEval: hand-computed nDCG/rr on a separable fixture") {
    // qid 0 (label 1): ranking by cosine puts the two label-1 vectors
    // at ranks 1 and 3 (by construction below)
    val mk = (hot: Int, v: Float) =>
      (0 until 8).map(d => if (d == hot) v else 0.01f)
    val e = Seq(
      (0L, mk(0, 1.0f), 1),
      (1L, mk(0, 0.9f), 1),  // cos≈1 with q0 → rank 1, relevant
      (2L, mk(0, 0.5f), 2),  // rank 2, irrelevant
      (3L, mk(1, 0.8f), 1),  // low cos → rank 3, relevant
      (4L, mk(2, 0.8f), 2)   // rank 4, irrelevant
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.retrievalEval(e, e.filter($"vec_id" === 0), k = 10)
      .as[(Long, Int, Long, Double, Double)].collect().head
    val (qid, label, nRel, ndcg, rr) = got
    assert(qid == 0L && label == 1 && nRel == 2L && rr == 1.0)
    val ladder = Similarity.dcgDiscounts(10)
    val dcg = ladder(0)._1 + ladder(2)._1  // hits at ranks 1 and 3
    val idcg = ladder(1)._2                // R = 2 relevant → cum(2)
    val expect = (dcg.toDouble / idcg.toDouble * 1e6).round / 1e6
    assert(math.abs(ndcg - expect) < 1e-9, s"ndcg $ndcg vs $expect")
  }

  test("pmiCollocations: hand-computed PMI, minCount floor, rank order") {
    import graft.ext.TextAnalysis
    // "a b" ×6 (always adjacent), "c" padding; "x y" appears 2× only
    val d = Seq(
      (1L, "a b a b a b c c"),
      (2L, "a b a b a b x y"),
      (3L, "x y c c c c c c")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(d, k = 10, minCount = 5)
      .as[(String, Long, Double)].collect()
    val m = out.map(r => r._1 -> (r._2, r._3)).toMap
    assert(!m.contains("x y"), "below minCount must be filtered")
    assert(m.contains("a b"))
    val (c12, pmi) = m("a b")
    assert(c12 == 6L)
    // n tokens = 24, nb = 21, c(a)=6, c(b)=6
    val expect = math.rint(
      math.log(6.0 * 24 * 24 / (21.0 * 6 * 6)) * 1e6) / 1e6
    assert(pmi == expect, s"$pmi vs $expect")
    // descending by pmi, pair tie-break
    val pmis = out.map(_._3).toSeq
    assert(pmis == pmis.sorted.reverse)
  }

  test("silhouette: tight well-separated cells score near 1, slot order " +
    "matches cellAssignments") {
    import graft.ext.Similarity
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.05f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.05f, 0.99f))
    ).toDF("vec_id", "embedding")
    val cent = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.silhouette(e, cent).orderBy("cell")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(0L, 1L))
    assert(out.forall(_._2 == 2L), "two members per cell")
    assert(out.forall(_._3 > 0.8), s"tight separated clusters: $out")
    assert(out.forall(r => r._4 <= r._3), "min <= mean")
    assert(out.forall(_._5 > 0.99), "cohesion = mean own-centroid cos")
    // cells must agree with the declared assignment operator
    val cells = Similarity.cellAssignments(e, cent)
      .as[(Long, Long)].collect().toMap
    assert(cells == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("silhouette mean equals the per-vector hand formula") {
    import graft.ext.Similarity
    // one cell, equidistant-ish vectors: verify the (own-other)/(1-other)
    // arithmetic against a driver-side replication
    val e = Seq((0L, Seq(0.9f, 0.44f)), (1L, Seq(0.7f, 0.71f)),
      (2L, Seq(0.2f, 0.98f))).toDF("vec_id", "embedding")
    val cent = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      def dot(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) =>
          acc + p.toDouble * q.toDouble }
      val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      math.rint(c * 1e6) / 1e6
    }
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val expected = Seq(Seq(0.9f, 0.44f), Seq(0.7f, 0.71f), Seq(0.2f, 0.98f))
      .map { v =>
        val cc = cents.map(cos(v, _))
        val own = cc.max
        val other = cc.min
        (cc.indexOf(own).toLong,
          math.rint((own - other) / (1.0 - other) * 1e6) / 1e6)
      }
    val byCell = expected.groupBy(_._1).map { case (c, xs) =>
      c -> (xs.size.toLong,
        math.rint(xs.map(_._2).sum / xs.size * 1e6) / 1e6)
    }
    val out = Similarity.silhouette(e, cent)
      .select(col("cell"), col("n"), col("mean_sil"))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == byCell, s"$out vs $byCell")
  }

  test("knnGraph: k=1 chain has asymmetric tail (mutual_degree 0)") {
    import graft.ext.Similarity
    // a<->b are each other's nn; c's nn is b, but b (k=1) lists only a
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.995f, 0.1f)),
      (2L, Seq(0.9f, 0.44f))
    ).toDF("vec_id", "embedding")
    val cent = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(e, cent, k = 1).orderBy("vec_id")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(out.forall(_._2 == 0L), "single cell")
    assert(out.forall(_._3 == 1L), "degree = k = 1")
    assert(out.map(_._4).toSeq == Seq(1L, 1L, 0L),
      s"mutual a<->b, c unreciprocated: ${out.toSeq}")
  }

  test("knnGraph edges stay within cells and degrees are cell-bounded") {
    import graft.ext.Similarity
    val e = Tables.load(spark, sf, "embeddings").limit(60)
    val cent = Similarity.trainCentroids(e, nCentroids = 4, iters = 1)
    val out = Similarity.knnGraph(e, cent, k = 5)
    val cells = Similarity.cellAssignments(e, cent)
      .as[(Long, Long)].collect().toMap
    val rows = out.as[(Long, Long, Long, Long, Double)].collect()
    for ((vid, cell, deg, mut, _) <- rows) {
      assert(cells(vid) == cell)
      val cellSize = cells.values.count(_ == cell)
      assert(deg <= 5 && deg <= cellSize - 1)
      assert(mut <= deg)
    }
  }

  test("knnGraph keeps degree-0 nodes: a vector alone in its cell is a " +
    "row with degree 0 and null mean_cos") {
    import graft.ext.Similarity
    // 0,1 share cell 0; 2 sits alone in cell 1 → no same-cell neighbor
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.1f)),
      (2L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cent = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(e, cent, k = 2).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L),
      s"node set must be complete: ${out.toSeq}")
    assert(out(2) == ((2L, 1L, 0L, 0L, None)),
      s"singleton cell → degree-0 row: ${out(2)}")
  }

  test("silhouette with a single centroid is empty (undefined, matching " +
    "the oracle's rn=2 inner join)") {
    import graft.ext.Similarity
    val e = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.44f)))
      .toDF("vec_id", "embedding")
    val cent = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.silhouette(e, cent).isEmpty)
  }

  test("zipfFit pins zero-variance degenerate fits to null") {
    import graft.ext.TextAnalysis
    // single distinct token → m = 1 → m·sxx − sx² = 0
    val d = Seq((0L, "same same same")).toDF("doc_id", "text")
    val r = TextAnalysis.zipfFit(d).collect().head
    assert(r.getLong(0) == 1L)
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3),
      s"degenerate fit must be null: $r")
    // two tokens with equal counts → syy variance 0 → r2 null, slope 0
    val d2 = Seq((0L, "aa bb")).toDF("doc_id", "text")
    val r2 = TextAnalysis.zipfFit(d2).collect().head
    assert(r2.getLong(0) == 2L && r2.isNullAt(3), s"r2 must be null: $r2")
    assert(r2.getDouble(1) == 0.0, s"flat counts → slope 0: $r2")
  }

  test("labelDispersion matches brute pairwise mean on quantized unit " +
    "vectors; degenerate labels") {
    import graft.ext.Similarity
    val e = Seq(
      // label 0: identical → 1.0; label 1: orthogonal → ~0
      (0L, Seq(3.0f, 0.0f, 1.0f), 0), (1L, Seq(3.0f, 0.0f, 1.0f), 0),
      (2L, Seq(1.0f, 0.0f, 0.0f), 1), (3L, Seq(0.0f, 2.0f, 0.0f), 1),
      // label 2: singleton → null
      (4L, Seq(0.5f, 0.5f, 0.5f), 2),
      // label 3: three mixed vectors — checked against the brute formula
      (5L, Seq(1.0f, 2.0f, -0.5f), 3), (6L, Seq(0.25f, 1.0f, 0.75f), 3),
      (7L, Seq(-1.0f, 0.5f, 2.0f), 3)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelDispersion(e).orderBy("label")
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(out.map(_._1) == Seq(0, 1, 2, 3))
    assert(out(0)._3.exists(v => math.abs(v - 1.0) < 1e-5))
    assert(out(1)._3.exists(v => math.abs(v) < 1e-5))
    assert(out(2)._3.isEmpty, "n=1 has no pairs")
    // brute replication of the quantized identity for label 3
    def quant(v: Seq[Float]): Seq[Long] = {
      def dot(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) =>
          acc + p.toDouble * q.toDouble }
      val n = math.sqrt(dot(v, v))
      v.map(x => math.rint(x.toDouble / n * 1e6).toLong)
    }
    val vs = Seq(Seq(1.0f, 2.0f, -0.5f), Seq(0.25f, 1.0f, 0.75f),
      Seq(-1.0f, 0.5f, 2.0f)).map(quant)
    val pairSum = (for {
      i <- vs.indices; j <- vs.indices if i != j
    } yield vs(i).zip(vs(j)).map { case (a, b) => a * b }.sum).sum
    val expect = math.rint(
      pairSum.toDouble / (3 * 2) / 1e12 * 1e6) / 1e6
    assert(out(3)._3.contains(expect), s"${out(3)._3} vs $expect")
  }

  test("zipfFit: two-point corpus fits exactly (r2 = 1) with the rounded " +
    "OLS arithmetic") {
    import graft.ext.TextAnalysis
    val d = Seq((0L, "a a a a a a a a b b"), (1L, "a a a a b b"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.zipfFit(d, topN = 10)
      .as[(Long, Double, Double, Double)].collect().head
    assert(out._1 == 2L)
    // x = (ln 1, ln 2) rounded 6; y = (ln 12, ln 4) rounded 6
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val x = Seq(r6(math.log(1.0)), r6(math.log(2.0)))
    val y = Seq(r6(math.log(12.0)), r6(math.log(4.0)))
    val slope = (y(1) - y(0)) / (x(1) - x(0))
    assert(math.abs(out._2 - slope) < 1e-6, s"${out._2} vs $slope")
    assert(math.abs(out._3 - y(0)) < 1e-6, "intercept = y at ln rank 0")
    assert(out._4 == 1.0, "two points fit exactly")
  }

  test("zipfFit slope is near -1 on a planted 1/rank corpus") {
    import graft.ext.TextAnalysis
    // counts c(r) = round(1200 / r): the planted Zipf law
    val text = (1 to 20).flatMap(r =>
      Seq.fill(math.round(1200.0 / r).toInt)(s"w${('a' + r).toChar}$r"))
      .mkString(" ")
    val d = Seq((0L, text)).toDF("doc_id", "text")
    val out = TextAnalysis.zipfFit(d, topN = 20)
      .as[(Long, Double, Double, Double)].collect().head
    assert(out._1 == 20L)
    assert(math.abs(out._2 + 1.0) < 0.01, s"slope ${out._2} should be ~ -1")
    assert(out._4 > 0.999, s"r2 ${out._4} should be ~ 1")
  }

  test("blocklistGate: exact lowercased token matches only") {
    import graft.ext.TextAnalysis
    val d = Seq(
      (0L, "the Slow fox is slow", "s1"), // 2 hits (case-insensitive)
      (1L, "slowly moving big rigs", "s1"), // 1 hit: big ("slowly" != slow)
      (2L, "nothing to see here", "s1"), // clean
      (3L, "big big big", "s2") // 3 hits, 1 doc
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.blocklistGate(d, Seq("slow", "big", "spam"))
      .orderBy("source")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(out(0) == (("s1", 3L, 2L, 3L, 0.666667)))
    assert(out(1) == (("s2", 1L, 1L, 3L, 1.0)))
  }

  test("tokenBurstiness: concentrated tokens outrank spread ones; minCf " +
    "floor filters") {
    import graft.ext.TextAnalysis
    // "b": 20 occurrences in 2 docs (cf/df = 10); "a": 20 in 20 docs
    // (cf/df = 1); "z": cf 5 < minCf → excluded
    val docs = ((0 until 20).map(i => (i.toLong, "a")) ++
      Seq((100L, ("b " * 10).trim + " z z z z z"),
        (101L, ("b " * 10).trim))).toDF("doc_id", "text")
    val out = TextAnalysis.tokenBurstiness(docs, k = 10, minCf = 20)
      .as[(String, Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq("b", "a"))
    assert(out(0) == (("b", 20L, 2L, 10.0)))
    assert(out(1) == (("a", 20L, 20L, 1.0)))
  }

  test("templatePrefixRate: repeated 8-token prefixes count as templated, " +
    "unique ones don't") {
    import graft.ext.Dedup
    val boiler = "all rights reserved by the example corp inc"
    val docs = Seq(
      (0L, s"$boiler tail one", "s1"),
      (1L, s"$boiler tail two and more", "s1"),
      (2L, "a completely different opening line of text here", "s1"),
      (3L, "unique again", "s2")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.templatePrefixRate(docs, prefixTokens = 8)
      .orderBy("source")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(out(0) == (("s1", 3L, 2L, 2L, 0.666667)))
    assert(out(1) == (("s2", 1L, 1L, 0L, 0.0)))
  }

  test("int8QuantError: exactly-representable and zero vectors score 1; " +
    "lossy vectors land below") {
    import graft.ext.Similarity
    val e = Seq(
      (0L, Seq(127.0f, 0.0f)), // codes (127, 0): exact reconstruction
      (1L, Seq(0.0f, 0.0f)), // zero vector: pinned to 1
      (2L, Seq(1.0f, 0.004f)) // second dim rounds to code 1 (0.5→1): lossy
    ).toDF("vec_id", "embedding")
    val out = Similarity.int8QuantError(e)
      .as[(Long, Double, Double, Long)].collect().head
    assert(out._1 == 3L)
    // hand-replicate doc 2: scale 1, codes (127, round(0.508)=1),
    // deq = (1, 1/127)
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val deq = Seq(1.0, 1.0 / 127)
    val orig = Seq(1.0f, 0.004f).map(_.toDouble)
    val dot = orig.zip(deq).map { case (a, b) => a * b }.sum
    val c2 = r6(dot / (math.sqrt(orig.map(x => x * x).sum) *
      math.sqrt(deq.map(x => x * x).sum)))
    assert(out._3 == c2, s"min_cos ${out._3} vs $c2")
    val mean = r6((1.0 + 1.0 + c2) / 3)
    assert(out._2 == mean)
    assert(out._4 == (if (c2 < 0.999) 1L else 0L))
  }

  test("hllNovelty: a batch inside the base estimates zero novelty " +
    "exactly") {
    import graft.ext.Sketches
    val base = (0 until 300).map(i => s"key$i").toDF("sg")
    val batch = (0 until 50).map(i => s"key$i").toDF("sg")
    val out = Sketches.hllNovelty(base, batch).collect().head
    // batch ⊆ base → merged registers ARE the base registers
    assert(out.getDouble(2) == out.getDouble(0), "est_merged == est_base")
    assert(out.getDouble(3) == 0.0, "est_new == 0")
    assert(out.getLong(4) == 0L, "exact_new == 0")
    assert(out.isNullAt(5), "rel_err undefined at exact_new 0")
  }

  test("hllNovelty: disjoint batch novelty estimate lands near the " +
    "exact count") {
    import graft.ext.Sketches
    val base = (0 until 400).map(i => s"base$i").toDF("sg")
    val batch = (0 until 200).map(i => s"new$i").toDF("sg")
    val out = Sketches.hllNovelty(base, batch).collect().head
    assert(out.getLong(4) == 200L)
    val relErr = out.getDouble(5)
    // 64-register HLL: ~13% standard error; est_new subtracts two
    // estimates so allow a generous envelope — this is the "is the
    // estimator wired right" gate, precision is x90's register tests
    assert(relErr < 0.6, s"rel_err $relErr out of envelope")
  }

  test("readability: hand-computed Flesch, vowel-less and empty words " +
    "floor at 1 syllable") {
    import graft.ext.TextAnalysis
    val d = Seq(
      (0L, "The cat sat. It ran!"), // 5 words, 2 sentence runs, 5 syllables
      (1L, "xyz bcd"), // y counts; bcd floors at 1
      (2L, "") // one empty token, floors everywhere
    ).toDF("doc_id", "text")
    val out = TextAnalysis.readability(d).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out(0)._2 == 5L && out(0)._3 == 2L && out(0)._4 == 5L)
    val f0 = math.rint((206.835 - 1.015 * (5.0 / 2) - 84.6 * 1.0) * 1e6) / 1e6
    assert(out(0)._5 == f0, s"${out(0)._5} vs $f0")
    assert(out(1)._2 == 2L && out(1)._3 == 1L && out(1)._4 == 2L)
    assert(out(2)._2 == 1L && out(2)._4 == 1L, "empty text = one empty token")
  }

  test("weightedSample: matches driver-replicated ES priorities, " +
      "excludes non-positive weights, is partitioning-invariant") {
    import graft.ext.Sampling
    val rows = Seq((1L, 10L), (2L, 10L), (3L, 0L), (4L, -5L), (5L, 7L),
      (6L, 1000L), (7L, 3L), (8L, 10L))
    val d = rows.toDF("doc_id", "w")
    def prio(id: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"wrs:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val h = java.lang.Long.parseLong(hex, 16)
      BigDecimal(math.log((h + 1).toDouble / 1152921504606846976.0) / w)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = rows.filter(_._2 > 0)
      .map { case (id, w) => (id, w, prio(id, w)) }
      .sortBy { case (id, _, p) => (-p, id) }.take(3)
    val out = Sampling.weightedSample(d, $"doc_id", $"w", k = 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == expected, s"$out vs $expected")
    // same draw at a different partitioning (the rand() failure mode)
    val out1 = Sampling.weightedSample(d.repartition(7), $"doc_id", $"w",
      k = 3).as[(Long, Long, Double)].collect().toSeq
    assert(out1 == expected)
  }

  test("triangleStats: path graph has wedges but no triangle; clique " +
      "closes; singleton-edge cells roll up with null clustering") {
    import graft.ext.Similarity
    val oneCent = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // a1=0, c0=1, a2=2, b=3 — mutual graph is the path b–a1–c0–a2 at
    // k=2 (derived by hand from the rounded cosines): two wedges
    // (centered a1 and c0), zero triangles
    val path = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.7f, 0.7f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.95f, -0.31f))
    ).toDF("vec_id", "embedding")
    val p = Similarity.triangleStats(path, oneCent, k = 2).collect()
    assert(p.length == 1)
    assert(p(0).getLong(1) == 4L && p(0).getLong(2) == 3L &&
      p(0).getLong(3) == 2L && p(0).getLong(4) == 0L,
      s"path stats: ${p(0)}")
    assert(p(0).getDouble(5) == 0.0, s"open wedges only: ${p(0)}")
    // tight trio + a far mutual pair, k=2: K3 plus one isolated edge —
    // one triangle, three wedges (all inside the K3), clustering 1.0
    val trio = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.14f)),
      (2L, Seq(0.98f, 0.2f)), (3L, Seq(0.0f, 1.0f)),
      (4L, Seq(0.1f, 0.99f))).toDF("vec_id", "embedding")
    val t = Similarity.triangleStats(trio, oneCent, k = 2).collect()
    assert(t.length == 1)
    assert(t(0).getLong(1) == 5L && t(0).getLong(2) == 4L &&
      t(0).getLong(3) == 3L && t(0).getLong(4) == 1L, s"trio: ${t(0)}")
    assert(t(0).getDouble(5) == 1.0)
  }

  test("kCenterCoreset: hand-derived greedy order on exact-dot vectors; " +
      "early stop when k exceeds the corpus") {
    import graft.ext.Similarity
    // unit vectors with exact small dots: seed 0=(1,0); farthest is
    // 2=(-1,0) (cos -1), then 1=(0,1) (cos 0), then 3=(.8,.6) (cov .8)
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(-1.0f, 0.0f)), (3L, Seq(0.8f, 0.6f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kCenterCoreset(e, k = 4).orderBy($"sel_rank")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq == Seq(
      (1, 0L, None), (2, 2L, Some(-1.0)), (3, 1L, Some(0.0)),
      (4, 3L, Some(0.8))), out.mkString(", "))
    // identical under a different partitioning
    val out2 = Similarity.kCenterCoreset(e.repartition(5), k = 4)
      .orderBy($"sel_rank").collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out2.toSeq == out.toSeq)
    // k larger than the corpus: stop after exhausting it
    assert(Similarity.kCenterCoreset(e, k = 10).count() == 4)
  }

  test("uniMaxAllocation: capped poor sources + equal-share rich ones; " +
      "all-capped and all-equal-share degenerate budgets") {
    import graft.ext.Selection
    val docs = Seq(
      ("A", "t1 t2"),                                 // 2 tokens, cap 8
      ("B", (1 to 10).map(i => s"b$i").mkString(" ")), // 10, cap 40
      ("C", (1 to 100).map(i => s"c$i").mkString(" ")) // 100, cap 400
    ).toDF("source", "text")
    val mixed = Selection.uniMaxAllocation(docs, budget = 100L)
      .orderBy($"source")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(mixed == Seq(
      ("A", 2L, 8L, 8.0, 4.0),
      ("B", 10L, 40L, 40.0, 4.0),
      ("C", 100L, 400L, 52.0, 0.52)), mixed.toString)
    // budget above total capacity: everyone gets the full cap
    val rich = Selection.uniMaxAllocation(docs, budget = 1000L)
      .orderBy($"source")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(rich.map(_._4) == Seq(8.0, 40.0, 400.0))
    // budget below even the poorest cap: pure equal split
    val tight = Selection.uniMaxAllocation(docs, budget = 9L)
      .orderBy($"source")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(tight.map(_._4) == Seq(3.0, 3.0, 3.0), tight.toString)
  }

  test("coverageAudit: counts and KL terms match a driver replication " +
      "of the md5 bucket and cell assignment") {
    import graft.ext.Sampling
    // two orthogonal centroids; even ids → cell of (1,0), odd → (0,1)
    val cents = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = (0L until 40L).map(i =>
      (i, if (i % 2 == 0) Seq(0.9f, 0.1f) else Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    def inSample(id: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cov:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 100 < 10
    }
    val expPer = (0L until 40L).groupBy(_ % 2).map { case (cell, ids) =>
      cell -> (ids.size.toLong, ids.count(inSample).toLong)
    }
    val ts = expPer.values.map(_._2).sum
    val out = Sampling.coverageAudit(e, cents, samplePct = 10)
      .orderBy($"cell").collect()
    assert(out.length == 2)
    out.foreach { r =>
      val cell = r.getLong(0)
      val (nc, nsmp) = expPer(cell)
      assert(r.getLong(1) == nc && r.getLong(2) == nsmp, r.toString)
      if (nsmp > 0) {
        val lr = math.log(nsmp.toDouble * 40 / (nc * ts))
        assert(math.abs(r.getDouble(5) - lr) < 1e-6, r.toString)
        assert(math.abs(r.getDouble(6) -
          nsmp.toDouble / ts * lr) < 1e-6, r.toString)
      } else {
        assert(r.isNullAt(5) && r.getDouble(6) == 0.0)
      }
    }
  }

  test("quantileSketch: estimates stay within the 1/S relative-error " +
      "bound of true quantiles; split-sketch merge equals whole-corpus " +
      "sketch; values below 1 clamp") {
    import graft.ext.Sketches
    val rnd = new scala.util.Random(5)
    val vals = (1 to 500).map(_ => (rnd.nextInt(2000) + 1).toLong)
    val d = vals.zipWithIndex.map { case (v, i) => (i.toLong, "g", v) }
      .toDF("id", "grp0", "v")
    val sk = Sketches.quantileBuckets(d, $"grp0", $"v")
    val est = Sketches.quantileEstimates(sk, Seq(0.5, 0.9, 0.99))
      .orderBy($"q").as[(String, Double, Long, Double)].collect()
    val sorted = vals.sorted
    for ((_, q, n, ev) <- est) {
      assert(n == 500)
      val truth = sorted(math.ceil(q * 500).toInt - 1).toDouble
      // bucket width ≤ lo/8 ⇒ relative error ≤ 1/8 against any value
      // in the crossed bucket
      assert(math.abs(ev - truth) / truth <= 0.125 + 1e-9,
        s"q=$q est=$ev truth=$truth")
    }
    // mergeability: sum of two half-corpus sketches = whole sketch
    val (h1, h2) = (d.filter($"id" < 250), d.filter($"id" >= 250))
    val merged = Sketches.quantileBuckets(h1, $"grp0", $"v")
      .union(Sketches.quantileBuckets(h2, $"grp0", $"v"))
      .groupBy($"grp", $"b", $"sub", $"lo")
      .agg(sum($"cnt").as("cnt"))
    val whole = sk.orderBy($"b", $"sub")
      .as[(String, Int, Long, Long, Long)].collect().toSeq
    val m2 = merged.orderBy($"b", $"sub")
      .select($"grp", $"b", $"sub", $"lo", $"cnt")
      .as[(String, Int, Long, Long, Long)].collect().toSeq
    assert(m2 == whole)
    // estimates off the merged sketch are identical too
    val estM = Sketches.quantileEstimates(merged, Seq(0.5, 0.9, 0.99))
      .orderBy($"q").as[(String, Double, Long, Double)].collect().toSeq
    assert(estM == est.toSeq)
    // non-positive values clamp to 1 (one singleton bucket)
    val z = Seq((1L, "z", 0L), (2L, "z", -5L), (3L, "z", 1L))
      .toDF("id", "grp0", "v")
    val zs = Sketches.quantileBuckets(z, $"grp0", $"v").collect()
    assert(zs.length == 1 && zs(0).getLong(4) == 3L)
  }

  test("calibrationCurve: hand-computed bins, p=1.0 clamps into the top " +
      "bin, ECE terms sum to the weighted gap") {
    import graft.ext.Selection
    // score 0 → p=0.5 → bin 5; score 20 → p rounds to 1.0 → clamped bin
    // 9; score −3 → p≈0.047 → bin 0
    val d = Seq((0.0, 1), (0.0, 0), (20.0, 1), (20.0, 1), (-3.0, 0))
      .toDF("score", "y")
    val out = Selection.calibrationCurve(d, $"score", $"y")
      .orderBy($"bin")
      .as[(Int, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    assert(out.map(_._1) == Seq(0, 5, 9), out.toString)
    val p3 = BigDecimal(1.0 / (1.0 + math.exp(3.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0) == (0, 1L, 0L, p3, 0.0, p3,
      BigDecimal(p3 / 5).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble), out(0).toString)
    assert(out(1) == (5, 2L, 1L, 0.5, 0.5, 0.0, 0.0))
    assert(out(2)._2 == 2L && out(2)._4 == 1.0 && out(2)._5 == 1.0 &&
      out(2)._6 == 0.0)
    // ECE = Σ ece_term = Σ n_b/N · gap_b
    val ece = out.map(_._7).sum
    assert(math.abs(ece - p3 / 5) < 1e-9)
  }

  test("labelAgreement: hand-derived neighbor agreement; singleton-cell " +
      "vectors are excluded") {
    import graft.ext.Similarity
    val cents = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // v0,v1 (label 0) and v2 (label 1) share cell 0; v3 is alone in
    // cell 1 (no neighbors → no row). k=2: everyone's neighbors are the
    // other two cellmates.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.99f, 0.14f), 0),
      (2L, Seq(0.98f, 0.2f), 1), (3L, Seq(0.0f, 1.0f), 7)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelAgreement(e, cents, k = 2)
      .orderBy($"vec_id")
      .as[(Long, Int, Long, Long, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      (0L, 0, 2L, 1L, 0.5, false),
      (1L, 0, 2L, 1L, 0.5, false),
      (2L, 1, 2L, 0L, 0.0, true)), out.toString)
  }

  test("effectiveNumberWeights: matches the CVPR'19 formula on skewed " +
      "counts and normalizes to mean 1") {
    import graft.ext.Selection
    val d = (Seq.fill(1)("a") ++ Seq.fill(100)("b") ++ Seq.fill(10)("c"))
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("id", "label")
    val out = Selection.effectiveNumberWeights(d, $"label")
      .orderBy($"label").as[(String, Long, Double)].collect().toSeq
    def rnd(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val raws = Seq(1L, 100L, 10L).map(n =>
      rnd((1.0 - 0.999) / (1.0 - math.pow(0.999, n.toDouble)), 9))
    val rs = raws.map(BigDecimal(_)).sum.toDouble
    val exp = Seq(("a", 1L, raws(0)), ("b", 100L, raws(1)),
      ("c", 10L, raws(2))).map { case (l, n, r) =>
      (l, n, rnd(r * 3 / rs, 6)) }
    assert(out == exp, s"$out vs $exp")
    // mean weight ≈ 1 (paper's normalization)
    assert(math.abs(out.map(_._3).sum / 3 - 1.0) < 1e-5)
    // rare class upweighted vs frequent
    assert(out.head._3 > out(1)._3)
  }

  test("dailyAnomaly: planted spike flags after a full trailing window; " +
      "warm-up days and flat histories stay null") {
    import graft.ext.Events
    // type "a": 8 quiet days (counts 5,6 alternating) then a 50-spike;
    // type "flat": constant 5 → variance 0 → z null forever
    val rows =
      (1 to 8).flatMap(d => (1 to (if (d % 2 == 0) 6 else 5)).map(i =>
        (d * 100L + i, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"),
          1L, "a", 1.0, ""))) ++
      (1 to 50).map(i =>
        (900L + i, java.sql.Timestamp.valueOf("2024-01-09 10:00:00"),
          1L, "a", 1.0, "")) ++
      (1 to 9).flatMap(d => (1 to 5).map(i =>
        (2000L + d * 10 + i,
          java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"),
          1L, "flat", 1.0, "")))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val out = Events.dailyAnomaly(ev).orderBy($"event_type", $"day")
      .collect()
    val a = out.filter(_.getString(0) == "a")
    // days 1..7: incomplete trailing window → null z
    assert(a.take(7).forall(_.isNullAt(4)))
    // day 8: full window over days 1-7 (5,6,5,6,5,6,5): m=38/7,
    // var=(208-38^2/7)/6; count 6 is NOT anomalous
    val m = 38.0 / 7
    val v = (208 - 7 * m * m) / 6
    def rnd(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(a(7).getDouble(4) == rnd((6 - m) / math.sqrt(v)) &&
      !a(7).getBoolean(5), a(7).toString)
    // day 9 (the 50-spike): anomalous
    assert(a(8).getBoolean(5) && a(8).getDouble(4) > 3, a(8).toString)
    // flat type: full window but zero variance → null z, never flagged
    val f = out.filter(_.getString(0) == "flat")
    assert(f.forall(r => r.isNullAt(4) && !r.getBoolean(5)))
    assert(f.drop(7).forall(r => !r.isNullAt(3)), "trail_mean present")
  }

  test("charEntropyPerDoc: exact on hand-derivable distributions, " +
      "empties pinned to zero and flagged low") {
    import graft.ext.TextAnalysis
    val d = Seq((1L, "s", "aaaa"), (2L, "s", "ab"), (3L, "s", "abcd"),
      (4L, "s", ""), (5L, "s", "aab"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.charEntropyPerDoc(d)
      .as[(Long, String, Double, Boolean)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(out(1L)._1 == 0.0 && out(1L)._2)
    assert(out(2L)._1 == 1.0 && out(2L)._2)
    assert(out(3L)._1 == 2.0 && !out(3L)._2)
    assert(out(4L) == (0.0, true))
    // aab: p = (2/3, 1/3) → 0.918296 bits
    val exp = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) /
      math.log(2)
    assert(math.abs(out(5L)._1 - exp) < 1e-6 && out(5L)._2)
    // the in-row sorted-run fold computes the IDENTICAL decimal sum →
    // identical 6-dp entropy on every doc (both over the fixture and a
    // real corpus slice)
    val inRow = d.select($"doc_id",
      TextAnalysis.charEntropy($"text").as("e"))
      .as[(Long, Double)].collect().toMap
    assert(inRow == out.map { case (k, v) => k -> v._1 })
    val corpus = graft.engine.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
    val viaGroup = TextAnalysis.charEntropyPerDoc(corpus)
      .select($"doc_id", $"entropy").as[(Long, Double)].collect().toMap
    val viaRow = corpus.select($"doc_id",
      TextAnalysis.charEntropy($"text").as("e"))
      .as[(Long, Double)].collect().toMap
    assert(viaRow == viaGroup)
  }

  test("qualityEnsemble: a doc dominating every signal ranks first in " +
      "its source; percentiles are the exact rationals") {
    import graft.ext.Selection
    // s1: d1 = long prose (top quality + top entropy; its flesch pct
    // is 0 — the formula rates vowel-less noise "easy", exactly why a
    // single signal is not trusted), d2 = low-entropy run, d3 =
    // punctuation noise
    val prose = (1 to 60).map(i =>
      s"the quick brown fox number $i jumps over it and rests.")
      .mkString(" ")
    val d = Seq(
      (1L, "s1", prose),
      (2L, "s1", "zz zz zz zz zz zz zz zz"),
      (3L, "s1", ";;;; !!!! ???? ;;;; %%%% ;;;;"),
      (4L, "s2", "only doc in its source")
    ).toDF("doc_id", "source", "text")
    val out = Selection.qualityEnsemble(d)
      .orderBy($"source", $"ens_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(5), r.getInt(6)))
    assert(out(0)._1 == 1L && out(0)._4 == 1, out.mkString(", "))
    // d1: quality pct 2/2, entropy pct 2/2, flesch pct 0/2 -> 2/3
    assert(out(0)._3 == BigDecimal(2.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // singleton source: percent_rank 0 everywhere, rank 1
    val solo = out.filter(_._2 == "s2").head
    assert(solo._3 == 0.0 && solo._4 == 1)
    assert(out.filter(_._2 == "s1").map(_._4).toSeq == Seq(1, 2, 3))
  }

  test("cachedKnnEdges: graph-family queries share one edge artifact " +
      "and stay output-identical to the live path") {
    import graft.ext.Similarity
    Similarity.invalidateKnnEdges()
    val oneCent = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val path = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.7f, 0.7f), 0),
      (2L, Seq(0.0f, 1.0f), 1), (3L, Seq(0.95f, -0.31f), 1)
    ).toDF("vec_id", "embedding", "label")
    val tri = Similarity.triangleStats(path, oneCent, k = 2).collect()
    assert(Similarity.edgeCacheSize == 1)
    // pageRank on the same inputs hits the artifact, no new entry
    Similarity.pageRank(path, oneCent, k = 2).collect()
    assert(Similarity.edgeCacheSize == 1)
    // a different k is a different artifact
    Similarity.labelAgreement(path, oneCent, k = 1).collect()
    assert(Similarity.edgeCacheSize == 2)
    // live knnGraph path agrees with what the cached consumers see:
    // identical mutual-edge-derived stats on re-derivation
    val tri2 = Similarity.triangleStats(path, oneCent, k = 2).collect()
    assert(tri2.toSeq == tri.toSeq)
    Similarity.invalidateKnnEdges()
    assert(Similarity.edgeCacheSize == 0)
  }

  test("pageRank: 3-iteration damped ranks match an exact driver " +
      "replication on the path graph; centers outrank leaves") {
    import graft.ext.Similarity
    val oneCent = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // same fixture as triangleStats: mutual graph is the path 3–0–1–2
    val path = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.7f, 0.7f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.95f, -0.31f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.pageRank(path, oneCent, k = 2, iters = 3,
      topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val edges = Seq((0, 1), (1, 0), (0, 3), (3, 0), (1, 2), (2, 1))
    val deg = Map(0 -> 2, 1 -> 2, 2 -> 1, 3 -> 1)
    // exact integer replication: rank·1e12, round-half-up divides
    var ru: Map[Int, Long] = deg.map { case (n, _) => n -> 1000000000000L }
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          (2 * ru(src) + deg(src)) / (2 * deg(src)) }.sum
      }
      ru = deg.map { case (n, _) =>
        n -> (150000000000L + (2 * 85 * in.getOrElse(n, 0L) + 100) / 200) }
    }
    val expected = ru.toSeq
      .map { case (n, p) => (n.toLong, 0L, deg(n).toLong, p) }
      .sortBy { case (id, _, _, p) => (-p, id) }
    assert(out == expected, s"$out vs $expected")
    assert(Set(out(0)._1, out(1)._1) == Set(0L, 1L),
      "path centers must outrank leaves")
    // rank mass is conserved up to rounding: Σr ≈ N·1e12
    val mass = out.map(_._4).sum
    assert(math.abs(mass - 4000000000000L) < 100L, s"mass $mass")
  }
}
