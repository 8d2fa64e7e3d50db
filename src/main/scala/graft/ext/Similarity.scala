package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.Checkpoints.MaterializeOps
import graft.engine.{AtRest, CorpusId, Memo, Tables}

/** Training + assignment profile for the at-rest index builders
  * ([[Similarity.writeKnnIndex]] / [[Similarity.writeIvfIndex]] and their
  * ensure/extend/streaming faces).
  *
  *  - [[IndexProfile.Exact]]: full-corpus Lloyd + flat argmax — the
  *    validation-scale path whose DuckDB oracles (x131/x138/x139)
  *    replicate it bit for bit. With the adaptive cell count (k ∝ n)
  *    each Lloyd pass is n·k = O(n²/perCell) cosine evaluations —
  *    measured 354 s at just 180 k vectors — so this profile must never
  *    be the seed/rebuild arm of a production-scale index.
  *  - [[IndexProfile.Production]]: [[Similarity.trainCentroidsSampled]]
  *    (Lloyd over a hash-ordered `rowsPerCentroid`·k sample — every pass
  *    sample·k, not n·k) + [[Similarity.assignCellsCoarse]] (two-level
  *    coarse-then-fine argmax, ~2·n·√k) — exactly the x128/x130
  *    composition measured at 31.2 s where the exact path read 96.2 s
  *    at 100×/k=800 (SCALE.md round 11). Approximate by construction (the
  *    standard IVF probe trade); x144 pins its semantics end to end.
  *
  * The profile is part of the index stamp, so switching profiles over
  * the same corpus rebuilds instead of silently mixing assignment
  * routes; extensions assign their batch through the SAME per-vector
  * function as the seed (pure in (vector, centroid set)), which is what
  * keeps extended == from-scratch-with-same-model true per profile.
  */
sealed trait IndexProfile
object IndexProfile {
  case object Exact extends IndexProfile
  /** `hierTrain = true` swaps the sampled trainer for
    * [[Similarity.trainCentroidsHier]] (coarse-restricted Lloyd,
    * ~2·sample·√k per pass — measured 36.9 s vs 626.4 s at k = 4096,
    * quality −0.0011): the O(k^1.5) training that keeps the model side
    * sub-dominant another ~decade past the kMax cap. Assignment is the
    * same two-level route either way, so extensions stay
    * frozen-model-equal; the stamp token differs (hier- vs sampled-),
    * so switching trainers rebuilds. `hierKMin` is the cell count at
    * and past which a `hierTrain = false` profile switches to the hier
    * trainer anyway ([[Similarity.resolveProfile]]). */
  final case class Production(rowsPerCentroid: Int = 50,
      coarseK: Int = 0, nprobeGroups: Int = 1,
      hierTrain: Boolean = false,
      hierKMin: Int = 1024) extends IndexProfile
}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Brute-force cosine top-k is the correctness baseline; the scale path is
  * bucketed pruning (LSH by random hyperplane sign / IVF by coarse
  * centroid) so a 100 TB corpus is probed, not scanned, per query. Vector
  * math runs through [[graft.functions.FloatVecDot]] — a codegen'd
  * Catalyst expression with the same left-to-right double accumulation as
  * the portable HOF form, minus its per-row array allocation.
  */
object Similarity {

  /** dot(a,b): the custom codegen expression. [[dotHof]] is the portable
    * higher-order-function formulation, kept as the semantics oracle
    * (GraftFunctionsSpec asserts bit-equality).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecDot.vec_dot(a, b)

  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Embedding near-duplicate pairs: all pairs with rounded cosine ≥
    * threshold. Norms are computed once per row *before* the pair join —
    * at n² pairs that one precompute is the difference between 2n and 2n²
    * norm evaluations.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val withNorm = emb.select(
      col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("va"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = withNorm.select(col("vec_id").as("vb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("va") < col("vb"))
      .select(col("va"), col("vb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Brute-force cosine top-k: each query vector against the full corpus.
    * The query side is broadcast (it is small by construction); ranking is
    * a per-query window over rounded similarity with id tie-break, so
    * results are total-ordered and engine-portable.
    */
  def topKBrute(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("cid"),
      col("embedding").as("ce"), norm(col("embedding")).as("cn"))
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").as("qe"), norm(col("embedding")).as("qn"))
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cos"))
  }

  /** Sign-bit binary quantization: pack a `dim`-wide (≤ 64) float
    * embedding into ONE BIGINT, bit d set iff `embedding[d] > 0` — the
    * 1-bit-per-dim compression a 100 TB vector store runs first (64-d
    * floats: 256 B → 8 B, 32× less scan IO). Plan-time unrolled
    * `when`/`bitwiseOR` fold, fully whole-stage-codegen'd, zero shuffle.
    */
  def signBits(e: Column, dim: Int): Column = {
    require(dim >= 1 && dim <= 64, s"signBits packs into one long, dim=$dim")
    (0 until dim)
      .map(d => when(element_at(e, d + 1) > 0f, lit(1L << d)).otherwise(0L))
      .reduce(_ bitwiseOR _)
  }

  /** Binary-quantized top-k with exact rerank: coarse-rank the corpus by
    * Hamming distance on [[signBits]] sign bitmaps (one `bit_count(xor)`
    * per candidate — the scan touches 8 bytes per vector, not 256), keep
    * the `cands` nearest per query, then rerank ONLY those with
    * full-precision cosine and keep top `k`. Both ranks are total-ordered
    * ((hamming, cid) / (cos desc, cid)) so the output is deterministic
    * and engine-portable. The rerank join broadcasts the bounded
    * |queries|×cands candidate set against the corpus — at scale the
    * expensive full-precision vectors are fetched for a few hundred rows
    * per query, never scanned.
    */
  def topKBinary(corpus: DataFrame, queries: DataFrame, k: Int,
      cands: Int, dim: Int = 64): DataFrame = {
    val cb = corpus.select(col("vec_id").as("cid"),
      signBits(col("embedding"), dim).as("cbits"))
    val qb = queries.select(col("vec_id").as("qid"),
      signBits(col("embedding"), dim).as("qbits"))
    val ham = cb.join(broadcast(qb), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        bit_count(col("qbits").bitwiseXOR(col("cbits"))).as("hamming"))
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("hamming").asc, col("cid").asc)
    val cand = ham.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= cands).drop("crank")
    val c = corpus.select(col("vec_id").as("cid"),
      col("embedding").as("ce"), norm(col("embedding")).as("cn"))
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").as("qe"), norm(col("embedding")).as("qn"))
    val rescored = c.join(broadcast(cand), Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"), col("hamming"),
        round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6).as("cos"))
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    rescored.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("hamming"), col("cos"))
  }

  /** Embedding-space outlier report: the `n` corpus vectors LEAST similar
    * to their own assigned k-means centroid — the junk/garbled-content
    * detector a curation pipeline runs after clustering (SemDeDup's
    * complement: x39 removes the too-close, this surfaces the
    * belongs-nowhere). Assignment is the same deterministic rounded-cosine
    * argmax the IVF index persists ([[cellAssignments]]'s max_by), so the
    * report and the index agree on cells; the global bottom-n is a
    * TakeOrderedAndProject (per-partition heaps, no full sort).
    */
  def centroidOutliers(corpus: DataFrame, centroids: DataFrame,
      n: Int): DataFrame = {
    val cent = centroids.select(col("vec_id").as("cent_id"),
      col("embedding").as("cent_e"), norm(col("embedding")).as("cent_n"))
    corpus
      .select(col("vec_id"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn"))
      .join(broadcast(cent))
      .withColumn("cent_cos",
        round(dot(col("ce"), col("cent_e")) / (col("cn") * col("cent_n")), 6))
      .groupBy(col("vec_id"))
      .agg(
        max_by(struct(col("cent_id").as("cell"), col("cent_cos").as("ccos")),
          struct(col("cent_cos"), (-col("cent_id")).as("nid"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        col("best.ccos").as("ccos"))
      .orderBy(col("ccos").asc, col("vec_id").asc)
      .limit(n)
  }

  /** Hard-negative mining for retriever/embedding training (cf. DPR,
    * Karpukhin et al. 2020): per query, the top-1 same-label neighbor as
    * the positive and the `k` highest-cosine DIFFERENT-label neighbors as
    * hard negatives — near-misses the trainer learns the most from.
    * One scored scan feeds both legs (positives and negatives split by a
    * label predicate, no second pass); windows are per-query bounded and
    * total-ordered (cos desc, cid) for engine portability. At 100 TB the
    * scored scan is the brute oracle form — swap in [[topKIvf]]'s probed
    * candidates per leg for the indexed path; the shaping is unchanged.
    */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = emb.select(col("vec_id").as("cid"), col("label").as("clabel"),
      col("embedding").as("ce"), norm(col("embedding")).as("cn"))
    val q = queries.select(col("vec_id").as("qid"), col("label").as("qlabel"),
      col("embedding").as("qe"), norm(col("embedding")).as("qn"))
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
        round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    val pos = scored.filter(col("qlabel") === col("clabel"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("qid"), col("cid").as("pos_cid"), col("cos").as("pos_cos"))
    val negs = scored.filter(col("qlabel") =!= col("clabel"))
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("qid"), col("neg_rank"), col("cid").as("neg_cid"),
        col("cos").as("neg_cos"))
    negs.join(pos, Seq("qid"))
      .select(col("qid"), col("pos_cid"), col("pos_cos"), col("neg_rank"),
        col("neg_cid"), col("neg_cos"))
      .orderBy(col("qid"), col("neg_rank"))
  }

  /** Fixed splitmix64-ish pseudo-random hyperplane weight in [-1, 1),
    * derived from (plane index, dimension index) — no RNG at plan time.
    * Single source of truth lives with the codegen sketch expression; the
    * DuckDB oracle reproduces the identical derivation
    * (ExtQueries.bucketsCte) so LSH bucket ids are engine-portable.
    */
  def planeWeight(plane: Int, d: Int): Double =
    graft.functions.HyperplaneSketch.planeWeight(plane, d)

  /** Johnson–Lindenstrauss random projection: reduce `dim`-wide float
    * embeddings to `outDim` dense doubles via a fixed pseudo-random
    * matrix — the cheap-distance-preserving compression a pipeline runs
    * before storing or brute-forcing over billions of vectors (JL: pair
    * distances survive within ε for outDim = O(log n / ε²)).
    *
    * The matrix rows are [[planeWeight]] float vectors — the SAME
    * derivation (and DuckDB replication) the hyperplane sketch uses, so
    * the projection is engine-portable with no stored artifact. Each
    * output coordinate is one codegen'd [[dot]] against a plan-time
    * constant array: zero shuffle, one map pass, no driver state —
    * embarrassingly parallel at any scale. 6-dp rounding makes the
    * emitted doubles hash-stable across engines.
    */
  def randomProject(emb: DataFrame, dim: Int, outDim: Int): DataFrame = {
    val comps = (0 until outDim).map { j =>
      val w = (0 until dim).map(d => planeWeight(j, d).toFloat).toArray
      round(dot(col("embedding"), typedlit(w)), 6).as(f"p$j%02d")
    }
    emb.select(col("vec_id") +: comps: _*)
  }

  /** Exact all-pairs cosine ≥ threshold, distributed: the block-matrix
    * formulation of [[nearDupPairs]]. Rows are hashed into `blocks` id
    * blocks; a broadcast triangular (ba ≤ bb) grid replicates each side
    * ~B/2×, and the pair work then flows through ONE equi shuffle join on
    * the (ba, bb) composite key — B(B+1)/2 distinct keys, so every core
    * gets block-pair tasks and per-task memory is bounded by 2·(n/B)
    * vectors. Same n²/2 dot products as the nested loop (exact semantics
    * can't avoid them) but no BroadcastNestedLoopJoin: at 1000 executors
    * the blocks spread instead of serializing through one driver
    * broadcast. Size B ∝ n/rowsPerBlock so a block fits an executor.
    *
    * Diagonal blocks emit both orders and dedup on ia < ib; off-diagonal
    * pairs appear exactly once and are order-normalized with
    * least/greatest. Output identical to [[nearDupPairs]].
    */
  def nearDupPairsBlocked(emb: DataFrame, threshold: Double,
      blocks: Int = 32): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val grid = (for { ba <- 0 until blocks; bb <- ba until blocks }
      yield (ba, bb)).toDF("ba", "bb")
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      pmod(col("vec_id"), lit(blocks)).cast("int").as("blk"))
    val a = withNorm.join(broadcast(grid), col("blk") === col("ba"))
      .select(col("ba"), col("bb"), col("vec_id").as("ia"),
        col("embedding").as("ea"), col("nrm").as("na"))
    val b = withNorm.join(broadcast(grid), col("blk") === col("bb"))
      .select(col("ba"), col("bb"), col("vec_id").as("ib"),
        col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("ba", "bb"))
      .filter(col("ba") < col("bb") || col("ia") < col("ib"))
      .select(least(col("ia"), col("ib")).as("va"),
        greatest(col("ia"), col("ib")).as("vb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Random-hyperplane LSH bucket id: sign bits of dot products with
    * `nbits` fixed pseudo-random hyperplanes (deterministic literals
    * derived from the dimension index — no RNG at plan time). Vectors in
    * the same bucket are near in angle w.h.p.
    */
  def hyperplaneBucket(e: Column, dim: Int, nbits: Int,
      planeOffset: Int = 0): Column = {
    (0 until nbits).map { bit =>
      // the projection is a dot product against a literal weight vector —
      // one codegen'd vec_dot per plane instead of dim scalar terms per
      // plane (the scalar form made a 4k-node expression tree per sketch
      // and measurably stressed codegen/driver heap)
      val weights =
        (0 until dim).map(d => planeWeight(bit + planeOffset, d).toFloat)
      val proj = dot(e, typedlit(weights))
      when(proj >= 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Scale path for embedding near-dup: multi-table random-hyperplane
    * bucketing as the candidate generator, exact cosine as the verifier —
    * same candidates-then-verify structure as MinHash-LSH for text
    * (Dedup.jaccardPairsLsh). Cost is Σ bucket² instead of n²; every
    * shuffle keys on the bucket id.
    *
    * Tuned 32 tables × 6 bits (measured on the synthetic corpus: ~0.91
    * recall at cos 0.4 with 2.5× fewer candidate pairs than brute force;
    * the old 16×4 passed ~64% of *random* pairs and was slower than the
    * nested loop it replaced). The band join carries only (table, bucket,
    * id) — embeddings re-enter via two equi-joins after the candidate
    * distinct, so the wide vectors never ride through the quadratic step.
    * Deterministic planes make the collision set engine-portable: the
    * DuckDB oracle reproduces the identical buckets (ExtQueries), so this
    * is hash-checked, not rows-only.
    */
  def nearDupPairsLsh(emb: DataFrame, threshold: Double,
      dim: Int = 64, nbits: Int = 6, tables: Int = 32): DataFrame = {
    // one codegen'd sketch expression per row (shared weight matrix, no
    // inline literal planes) — the tables×nbits vec_dot-on-literal
    // composition cost ~2.5 s/stage at sf0.1 in plan-tree evaluation.
    // Materialized before the self-join: both branches would otherwise
    // re-scan the embeddings and re-evaluate the sketch; the
    // checkpointed relation is just (id, table, bucket) — 3 smallints/row
    val banded = emb.select(col("vec_id"),
      posexplode(graft.functions.HyperplaneSketch.hyperplane_sketch(
        col("embedding"), dim, nbits, tables)).as(Seq("t", "b")))
      .materialized
    val candidates = banded.select(col("t"), col("b"), col("vec_id").as("va"))
      .join(banded.select(col("t"), col("b"), col("vec_id").as("vb")),
        Seq("t", "b"))
      .filter(col("va") < col("vb"))
      .select("va", "vb")
      .distinct()
    val withNorm = emb.select(
      col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    candidates
      .join(withNorm.select(col("vec_id").as("va"),
        col("embedding").as("ea"), col("nrm").as("na")), "va")
      .join(withNorm.select(col("vec_id").as("vb"),
        col("embedding").as("eb"), col("nrm").as("nb")), "vb")
      .select(col("va"), col("vb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    * embeddings are bucketed into k-means cells, and near-duplicate
    * detection runs only WITHIN each cell — the pruning that makes
    * embedding dedup tractable at corpus scale, since the quadratic
    * verify is Σ|cell|² instead of n². A row is the representative of
    * its duplicate group iff no lower-id vector in the same cell has
    * rounded cosine ≥ threshold with it (min-id keep rule, same
    * convention as [[graft.ext.Dedup.exact]]).
    *
    * Plan shape: cell assignment is the [[topKIvf]] broadcast-centroid
    * max_by aggregation; the within-cell pair step is an equi self-join
    * keyed on the cell id (never a cross join), and the duplicate flag
    * is a left join against the distinct higher-id pair ends. Skewed
    * cells bound the worst task (|cell|² work) — the standard remedy is
    * more/better centroids ([[trainCentroids]]), which this takes as an
    * input. Deterministic throughout (trained centroids, rounded
    * cosines, id tie-breaks), so the DuckDB oracle replicates cells and
    * pairs exactly and x39 is hash-checked.
    *
    * Approximate by design at cell boundaries: a true near-dup split
    * across two cells is missed — the documented SemDeDup trade; raise
    * recall with more probes/tables via [[nearDupPairsLsh]] instead.
    */
  def semanticDedup(emb: DataFrame, threshold: Double,
      centroids: DataFrame): DataFrame =
    semanticDedupAssigned(
      assignCells(emb, centroidRelation(centroids)), threshold)

  /** [[semanticDedup]] over a PRE-ASSIGNED cell relation in
    * [[assignCells]]' (cid, ce, cn, cell) shape — the seam that lets the
    * production profile swap the exact flat argmax for the two-level
    * [[assignCellsCoarse]] route without touching the within-cell dedup
    * semantics (x130 composes exactly that; its oracle replicates both
    * assignment levels plus this dup chain).
    */
  private[graft] def semanticDedupAssigned(cells: DataFrame,
      threshold: Double): DataFrame = {
    val a = cells.select(col("cell"), col("cid").as("va"),
      col("ce").as("ea"), col("cn").as("na"))
    val b = cells.select(col("cell"), col("cid").as("vb"),
      col("ce").as("eb"), col("cn").as("nb"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("va") < col("vb"))
      .filter(round(dot(col("ea"), col("eb")) /
        (col("na") * col("nb")), 6) >= threshold)
      .select(col("vb").as("vec_id")).distinct()
      .withColumn("is_dup", lit(1))
    cells.select(col("cid").as("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("is_dup").isNull.as("is_rep"))
  }

  /** Top-k via the bounded-heap [[graft.functions.TopKAgg]] — identical
    * output to [[topKBrute]] (scores pre-rounded, id tie-break) but with
    * partial aggregation: each map task reduces its scored slice to ≤ k
    * pairs before the shuffle, so the exchange carries O(queries × k)
    * rows instead of O(corpus × queries) — the difference between a
    * viable and a doomed plan at 100 TB corpus scale.
    */
  def topKAggregated(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("cid"),
      col("embedding").as("ce"), norm(col("embedding")).as("cn"))
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").as("qe"), norm(col("embedding")).as("qn"))
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6).as("cos"))
    val topk = udaf(new graft.functions.TopKAgg(k))
    scored
      .groupBy(col("qid"))
      .agg(topk(col("cos"), col("cid")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("t._2").as("cid"), col("t._1").as("cos"))
  }

  /** IVF-style top-k: a fixed set of coarse "centroid" vectors partitions
    * the corpus into cells (assignment = nearest centroid by cosine); a
    * query probes only its own `nprobe` nearest cells. At rest the cell id
    * is a partition/bucket column, so a 100 TB corpus is pruned to a few
    * cells per query. Deterministic (centroids = the first `nCentroids`
    * corpus vectors; [[trainCentroids]] slots a k-means refinement into
    * the same plan shape via the `centroids` override): centroid cosines
    * are rounded to 6 digits and ties break on the lower centroid id, so
    * cell assignment and probing are engine-portable and the DuckDB
    * oracle hash-checks the full output.
    */
  def topKIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 8, nprobe: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cent = centroidRelation(
      centroids.getOrElse(corpus.filter(col("vec_id") < nCentroids)))
    val c = assignCells(corpus, cent)
    val q = probeCells(queries, cent, nprobe)
    rankProbed(c, q, k)
  }

  /** Public (vec_id, cell) view of the IVF cell assignment — the
    * learned-strata input for cluster-balanced selection (x55) and any
    * other per-cell downstream operator. Exactly the argmax the index
    * write path persists as the `cell=` partition column.
    */
  def cellAssignments(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(corpus, centroidRelation(centroids))
      .select(col("cid").as("vec_id"), col("cell"))

  /** (cent_id, cent_e, cent_n) view of a centroid relation. */
  private def centroidRelation(centroids: DataFrame): DataFrame =
    centroids.select(col("vec_id").as("cent_id"),
      col("embedding").as("cent_e"), norm(col("embedding")).as("cent_n"))

  /** Cell assignment as an aggregation (max_by / bounded top-k), not a
    * window rank: partial aggregation collapses the vectors×centroids
    * product map-side instead of sorting it through a shuffle. max_by on
    * a (cos, -id) struct = deterministic argmax, lowest id on cos ties.
    */
  private def assignCells(corpus: DataFrame, cent: DataFrame): DataFrame =
    corpus
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn"))
      .join(broadcast(cent))
      .withColumn("cent_cos",
        round(dot(col("ce"), col("cent_e")) / (col("cn") * col("cent_n")), 6))
      .groupBy(col("cid"))
      .agg(first(col("ce")).as("ce"), first(col("cn")).as("cn"),
        max_by(col("cent_id"),
          struct(col("cent_cos"), (-col("cent_id")).as("nid"))).as("cell"))

  /** [[assignCells]]' (vec_id, cell) face for probes/tests. */
  private[graft] def assignCellsFlat(corpus: DataFrame,
      centroids: DataFrame): DataFrame =
    assignCells(corpus, centroidRelation(centroids))
      .select(col("cid").as("vec_id"), col("cell"))

  /** TWO-LEVEL (coarse-quantized) cell assignment — the measured lever
    * for the n·k assignment term that appears once the cell count
    * scales with the corpus ([[adaptiveCellCount]]: k = n/250 makes
    * flat argmax assignment n·k = n²/250 cosine evaluations, the
    * x94/x39 second-decade cost in SCALE.md). Standard two-level IVF:
    * cluster the k CENTROIDS into ~√k coarse groups (k-means over a
    * k-row dim-table relation — trivial), then each vector argmaxes
    * over the √k coarse centers and afterwards only over its winning
    * group's ~√k member centroids — ~2·n·√k total, both stages
    * broadcast joins with map-side partial aggregation, zero shuffle
    * of the corpus.
    *
    * APPROXIMATE by construction: a vector whose true best centroid
    * lives outside its best coarse group gets that group's best
    * instead — the standard IVF probe trade (SCALE.md round 11 measures
    * agreement alongside the speedup; raise `nprobeGroups` to trade
    * time back for fidelity). The DECLARED x94-family queries keep the
    * exact flat argmax (their oracles replicate it bit-for-bit); this
    * is the documented production path past ~10⁶ vectors.
    */
  private[graft] def assignCellsCoarse(corpus: DataFrame,
      centroids: DataFrame, coarseK: Int = 0,
      nprobeGroups: Int = 1): DataFrame = {
    val k = centroids.count().toInt
    val cK = if (coarseK > 0) coarseK
      else math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = trainCentroids(centroids, cK)
    // member centroids labeled with their coarse group — k rows
    val centGroups = assignCells(centroids, centroidRelation(coarse))
      .select(col("cid").as("cent_id"), col("ce").as("cent_e"),
        col("cn").as("cent_n"), col("cell").as("grp"))
    val coarseRel = centroidRelation(coarse)
      .select(col("cent_id").as("grp_id"), col("cent_e").as("grp_e"),
        col("cent_n").as("grp_n"))
    val probeAgg = udaf(new graft.functions.TopKAgg(nprobeGroups))
    // stage 1: each vector's nprobeGroups best coarse groups (n·√k)
    val probed = corpus
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn"))
      .join(broadcast(coarseRel))
      .withColumn("gcos",
        round(dot(col("ce"), col("grp_e")) / (col("cn") * col("grp_n")), 6))
      .groupBy(col("cid"))
      .agg(first(col("ce")).as("ce"), first(col("cn")).as("cn"),
        probeAgg(col("gcos"), col("grp_id")).as("grps"))
      .select(col("cid"), col("ce"), col("cn"),
        explode(col("grps")).as("g"))
      .withColumn("grp", col("g._2")).drop("g")
    // stage 2: exact argmax over the probed groups' members (n·~√k·p)
    probed
      .join(broadcast(centGroups), Seq("grp"))
      .withColumn("ccos",
        round(dot(col("ce"), col("cent_e")) / (col("cn") * col("cent_n")), 6))
      .groupBy(col("cid"))
      .agg(first(col("ce")).as("ce"), first(col("cn")).as("cn"),
        max_by(col("cent_id"),
          struct(col("ccos"), (-col("cent_id")).as("nid"))).as("cell"))
  }

  /** Per-query probed cells: each query exploded to its `nprobe` nearest
    * centroid ids, carrying its embedding and norm for the scoring join.
    */
  private def probeCells(queries: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame = {
    val probeAgg = udaf(new graft.functions.TopKAgg(nprobe))
    queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
      .join(broadcast(cent))
      .withColumn("cent_cos",
        round(dot(col("qe"), col("cent_e")) / (col("qn") * col("cent_n")), 6))
      .groupBy(col("qid"))
      .agg(first(col("qe")).as("qe"), first(col("qn")).as("qn"),
        probeAgg(col("cent_cos"), col("cent_id")).as("cells"))
      .select(col("qid"), col("qe"), col("qn"),
        explode(col("cells")).as("cellStruct"))
      .withColumn("cell", col("cellStruct._2"))
      .drop("cellStruct")
  }

  /** Score assigned corpus rows against probing queries on the shared
    * cell key and rank per query — [[topKIvf]]'s tail, shared with the
    * persisted-index probe.
    */
  private def rankProbed(c: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6).as("cos"))
      .distinct() // a pair can meet in several probed cells
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cos"))
  }

  /** IVF index *at rest*: the corpus written ONCE, partitioned on its
    * trained cell id, with the trained centroids alongside as an
    * underscore-named sidecar table (which parquet directory reads skip).
    * This is what makes [[topKIvf]]'s design real at 100 TB: in-query
    * assignment re-scores the whole corpus per query batch, while the
    * persisted form pays assignment once at write time and every probe
    * afterwards reads only `nprobe` `cell=` partition directories —
    * partition pruning in the scan itself, asserted by PlanSpec.
    *
    * Write shape: one corpus pass (broadcast centroid argmax, no
    * shuffle) into a partitioned write; re-cluster cadence is an offline
    * rebuild, the standard IVF maintenance trade.
    */
  def writeIvfIndex(corpus: DataFrame, path: String, nCentroids: Int = 8,
      iters: Int = 3,
      profile: IndexProfile = IndexProfile.Exact): Unit = {
    val (trained, assigned) = trainAndAssign(corpus, nCentroids, iters,
      profile)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    trained.write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** The profile seam shared by both at-rest builders: train the model
    * and assign the corpus by [[IndexProfile]] — exact Lloyd + flat
    * argmax, or sampled Lloyd + two-level coarse assignment (x128's
    * measured production composition). Output shape is [[assignCells]]'
    * (cid, ce, cn, cell) either way.
    */
  private def trainAndAssign(corpus: DataFrame, nCentroids: Int,
      iters: Int, profile: IndexProfile): (DataFrame, DataFrame) =
    resolveProfile(nCentroids, profile) match {
      case IndexProfile.Exact =>
        val c = trainCentroids(corpus, nCentroids, iters)
        (c, assignCells(corpus, centroidRelation(c)))
      case IndexProfile.Production(rpc, ck, np, hier, _) =>
        val c =
          if (hier) trainCentroidsHier(corpus, nCentroids,
            maxTrainRows = rpc * nCentroids, iters = iters,
            coarseK = ck, nprobeGroups = np)
          else trainCentroidsSampled(corpus, nCentroids,
            maxTrainRows = rpc * nCentroids, iters = iters)
        (c, assignCellsCoarse(corpus, c, ck, np))
    }

  /** Auto-switch the Production TRAINER to the hierarchical one at and
    * past the profile's `hierKMin` cell count: at the kMax cap the
    * sampled trainer's 50·k² term costs 626 s where
    * [[trainCentroidsHier]] costs 37 s (17×, SCALE.md round 15 — and at
    * the full 190 k seed hier also WINS recall, 0.120 vs 0.078), so a
    * Production caller whose corpus grows to the cap should not need to
    * know the `hierTrain` flag exists. The threshold default (1024) sits
    * at the measured crossover decade: k = 1024 is where hier's
    * advantage clears 2× at equal quality (36.9 vs 626.4 s at 4096
    * scales as k²/k^1.5 ≈ √k — ~8× at 1024 — while quality stays within
    * 0.002). Assignment is profile-identical either way (the two-level
    * coarse route), so extensions stay frozen-model-equal; the
    * resolution's INPUTS all ride the index stamps (nCentroids or the
    * kMax that derives it, plus `hierKMin` itself), so changing the
    * threshold over an existing artifact rebuilds, never mixes
    * trainers. Declared Production ks sit far below the default, so no
    * oracle hash moves; an explicit `hierTrain = true` is untouched.
    */
  private[graft] def resolveProfile(nCentroids: Int,
      profile: IndexProfile): IndexProfile = profile match {
    case p @ IndexProfile.Production(_, _, _, false, hierKMin)
        if nCentroids >= hierKMin =>
      p.copy(hierTrain = true)
    case other => other
  }

  /** The batch-assignment half of the profile seam: assign new vectors
    * against FROZEN at-rest centroids through the same per-vector
    * function the seed used — pure in (vector, centroid set), which is
    * the invariant that makes an extension provably equal to a
    * from-scratch build with the same model under either profile.
    */
  private def assignWithProfile(vecs: DataFrame, cents: DataFrame,
      profile: IndexProfile): DataFrame = profile match {
    case IndexProfile.Exact => assignCells(vecs, centroidRelation(cents))
    case IndexProfile.Production(_, ck, np, _, _) =>
      assignCellsCoarse(vecs, cents, ck, np)
  }

  /** The profile's stamp token — dash-separated inside so it stays ONE
    * colon-field of the corpus part (the stamp format the extenders
    * match by prefix).
    */
  private def profileToken(p: IndexProfile): String = p match {
    case IndexProfile.Exact => "exact"
    case IndexProfile.Production(r, c, n, hier, _) =>
      (if (hier) "hier" else "sampled") + s"-$r-$c-$n"
  }

  private[graft] val IvfLayout = AtRest.Layout("_graft_ivf_meta",
    Seq(AtRest.Accreting("", cells = true)))

  /** v2: the stamp carries a `model=` term (see [[knnCorpusPart]]'s
    * rationale) so [[extendIvfIndex]] can roll the corpus forward under
    * a frozen trained model. */
  private def ivfCorpusPart(corpus: DataFrame, nCentroids: Int,
      iters: Int, profile: IndexProfile): String =
    CorpusId.stamp(corpus, nCentroids, iters, 2,
      // token of the RESOLVED profile (nCentroids is explicit here), so
      // the hier auto-switch is legible in the stamp and a threshold
      // change that flips the effective trainer rebuilds
      profileToken(resolveProfile(nCentroids, profile)))

  /** The IVF corpus index family ([[writeIvfIndex]]) — the simplest
    * member of the incremental at-rest families: its delta assigns the
    * batch against the frozen at-rest centroids (one broadcast argmax
    * over the batch alone, through the SAME per-vector route as the
    * seed — the profile seam) and APPENDS the assigned rows into their
    * `cell=` partition directories. Nothing existing is rewritten — IVF
    * cell membership of old vectors cannot change under a frozen model
    * — so per-batch work is exactly the batch's assignment + its
    * partitioned write, and a probe over the extended index equals
    * [[topKIvf]] with the base-trained centroids over the union (x139
    * hash-asserts it). The stamp's model term rides from the base stamp
    * into the union stamp: an extension NEVER re-trains (the standard
    * IVF maintenance trade), an [[ensureIvfIndex]] over the union does.
    */
  private[graft] def ivfFamily(nCentroids: Int, iters: Int,
      profile: IndexProfile) =
    AtRest.Family[Unit](IvfLayout, (_, _) => (),
      key = (corpus, _) => ivfCorpusPart(corpus, nCentroids, iters, profile),
      model = Some(CorpusId.field),
      build = (corpus, path, _) =>
        writeIvfIndex(corpus, path, nCentroids, iters, profile),
      delta = (_, batch, path, _) =>
        assignWithProfile(batch, readKnnCentroids(batch.sparkSession, path),
          profile).write.mode("append").partitionBy("cell").parquet(path))

  /** [[writeIvfIndex]] only when needed: the corpus data fingerprint +
    * plan hash + hyperparameters are stamped into a `_graft_ivf_meta`
    * sidecar at write time and compared on entry, so an unchanged corpus
    * reuses the index at rest instead of re-training and re-writing it —
    * the deployment shape for a resident index, where the build
    * amortizes across every query batch and the probe cost is all that
    * remains (~0.5 s vs the 2.1–2.6 s build+probe at sf0.1). `force` is
    * the out-of-band-mutation hatch (the at-rest analogue of
    * [[invalidateTrainedCentroids]]). Returns true when a (re)build
    * happened.
    */
  def ensureIvfIndex(corpus: DataFrame, path: String, nCentroids: Int = 8,
      iters: Int = 3, force: Boolean = false,
      profile: IndexProfile = IndexProfile.Exact): Boolean =
    AtRest.ensure(ivfFamily(nCentroids, iters, profile), corpus, path, force)

  /** Extend an at-rest [[writeIvfIndex]] with a NEW vector batch (see
    * [[ivfFamily]]). `unionView`: the canonical base ∪ batch plan for
    * the stamp when the caller has one (a flat multi-dir read); rows
    * must equal baseCorpus ∪ newCorpus. Returns true when any build ran.
    */
  def extendIvfIndex(baseCorpus: DataFrame, newCorpus: DataFrame,
      path: String, nCentroids: Int = 8, iters: Int = 3,
      unionView: Option[DataFrame] = None,
      profile: IndexProfile = IndexProfile.Exact): Boolean =
    AtRest.extend(ivfFamily(nCentroids, iters, profile), baseCorpus,
      newCorpus, path, unionView)

  /** Compact an at-rest [[writeIvfIndex]] dir's accreted cell
    * partitions: each extension lands one file set per touched cell, so
    * after thousands of batches a hot cell holds thousands of tiny files
    * and every probe pays open + footer overhead per file. Only cells
    * over `maxFilesPerCell` files are rewritten, one file each, values
    * identical. No-op — lock-free, stamp untouched — when no cell is
    * over budget. Returns true when a compaction ran.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxFilesPerCell: Int = 32): Boolean =
    AtRest.compact(IvfLayout, spark, path, maxFilesPerCell)

  /** Compact an at-rest [[writeKnnIndex]] dir's accreted `cells`
    * partitions. The edge relation never accretes — extensions
    * dynamic-partition-OVERWRITE touched edge cells whole — so only
    * the member relation needs the sweep. Same no-op / lease / stamp
    * discipline as [[compactIvfIndex]].
    */
  def compactKnnIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxFilesPerCell: Int = 32): Boolean =
    AtRest.compact(KnnLayout, spark, path, maxFilesPerCell)

  /** Layout version folded into the kNN-index stamp so a format change
    * invalidates v-old artifact dirs instead of misreading them.
    * v2: edges and cell assignments are partitioned by `cell` (the
    * incremental-extension layout) and the stamp carries a `model=`
    * term naming the training corpus. */
  private val KnnIndexLayoutVersion = 2

  private[graft] val KnnLayout = AtRest.Layout("_graft_knn_meta",
    Seq(AtRest.Accreting("cells", cells = true)))

  /** The corpus half of the kNN-index stamp — everything EXCEPT which
    * corpus the centroids were trained on. [[extendKnnIndex]] keeps the
    * base's trained model while the corpus rolls forward (the standard
    * IVF maintenance trade: assign-into-existing-cells per batch,
    * re-cluster as an offline rebuild), so the two notions must be
    * separable: an [[ensureKnnIndex]] over the extended union sees its
    * corpus part match but its `model=` term differ, and correctly
    * RE-TRAINS rather than silently adopting the stale cell structure.
    */
  private def knnCorpusPart(emb: DataFrame, k: Int, perCell: Int,
      profile: IndexProfile): String =
    CorpusId.stamp(emb, k, perCell,
      // the derived cell count is a function of (corpus, perCell, kMax),
      // so the ceiling rides the stamp: a build under a different
      // ceiling over an existing artifact gets a rebuild, never a
      // silently mis-sized cell structure
      KMax,
      // the hier auto-switch threshold rides the stamp for the same
      // reason: the cell count is DERIVED here (adaptiveCellCount), so
      // the token below can't be pre-resolved, but the effective
      // trainer is a pure function of stamped fields (corpus, perCell,
      // kMax, this) — a threshold change rebuilds, never mixes trainers.
      // Deliberately the RAW value, not the resolved flat/hier decision:
      // resolving here would need adaptiveCellCount's corpus count(),
      // i.e. a Spark job on EVERY no-op ensure (per micro-batch in the
      // streaming faces, corpus-proportional at scale) to save a
      // rebuild only when a caller changes the threshold without
      // crossing the decision — a rare, explicit action that already
      // expects a rebuild. Exact never switches trainers; it stamps the
      // Production default so its at-rest stamps stay valid.
      profile match {
        case p: IndexProfile.Production => p.hierKMin
        case IndexProfile.Exact => IndexProfile.Production().hierKMin
      },
      KnnIndexLayoutVersion, profileToken(profile))

  /** The x94 kNN EDGE relation at rest: cell-local top-`k` edges (cid,
    * cell, nid, cos) under `path/edges` with the trained centroids as a
    * sidecar table under `path/_centroids` — [[writeIvfIndex]]'s
    * discipline applied to the graph family's shared artifact. Cell
    * count is the adaptive contract (k = min(kMax, max(8, n/`perCell`))), i.e. the
    * exact flat-argmax path the declared x94/x104/x105/x111 queries
    * run, so the at-rest edges equal [[cachedKnnEdges]]' output row for
    * row and x131's DuckDB oracle replicates them from scratch. A cold
    * JVM that [[ensureKnnIndex]]es pays one parquet scan instead of the
    * train+assign+score build the session cache only amortizes within
    * one process.
    */
  def writeKnnIndex(emb: DataFrame, path: String, k: Int,
      perCell: Int = 250,
      profile: IndexProfile = IndexProfile.Exact): Unit = {
    val (cents, assignedPlan) = trainAndAssign(emb,
      adaptiveCellCount(emb, perCell = perCell), iters = 3, profile)
    val assigned = assignedPlan.materialized
    // v2 layout: edges AND assignments live partitioned by cell, which
    // is what makes the incremental extension surgical — an extension
    // reads only the touched `cell=` directories (partition pruning)
    // and dynamic-partition-overwrites only those edge partitions,
    // never rewriting the untouched bulk of a 100 TB index
    knnEdges(assigned, k)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/edges")
    assigned.select(col("cid"), col("ce").as("embedding"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    cents.write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** The kNN edge index family ([[writeKnnIndex]]) — the reason the v2
    * layout partitions by cell. Its delta assigns new vectors against
    * the AT-REST centroids (one broadcast argmax over the batch alone —
    * the model is frozen across extensions, the standard IVF
    * maintenance trade), and because edges are CELL-LOCAL, only the
    * cells the batch actually lands in change: it reads base members of
    * touched cells via partition-pruned scans, recomputes those cells'
    * top-k edges over base∪batch members, and dynamic-partition-
    * overwrites exactly those edge directories — per-batch work ∝ the
    * batch and its touched-cell mass, never the corpus. The result is
    * provably IDENTICAL to a from-scratch edge build over the union with
    * the same centroids (cell-locality makes untouched cells' edges
    * invariant; spec-asserted), which is what lets x138's oracle
    * replicate it exactly: base-trained Lloyd + union assignment + cell
    * edges. The stamp's model term is carried from the base, so chained
    * extensions keep extending while an [[ensureKnnIndex]] over the
    * union sees the model drift and re-trains.
    */
  private[graft] def knnFamily(k: Int = 5, perCell: Int = 250,
      profile: IndexProfile = IndexProfile.Exact) =
    AtRest.Family[Unit](KnnLayout, (_, _) => (),
      key = (emb, _) => knnCorpusPart(emb, k, perCell, profile),
      model = Some(CorpusId.field),
      build = (emb, path, _) => writeKnnIndex(emb, path, k, perCell, profile),
      delta = (_, batch, path, _) => {
        val spark = batch.sparkSession
        import spark.implicits._
        // same per-vector assignment function as the seed (profile
        // seam) — the extended-equals-from-scratch invariant per profile
        val assignedBatch = assignWithProfile(batch,
          readKnnCentroids(spark, path), profile).materialized
        // bounded driver state: ≤ min(|batch|, cell count) longs — the
        // probed-cell collect class (dim-table scale)
        val touched = assignedBatch.select(col("cell")).distinct()
          .as[Long].collect().sorted
        val members = AtRest.read(spark, path, "cells")
          .filter(col("cell").isin(touched: _*))
          .select(col("cid"), col("embedding").as("ce"),
            norm(col("embedding")).as("cn"),
            col("cell").cast("long").as("cell"))
          .unionByName(assignedBatch
            .select(col("cid"), col("ce"), col("cn"), col("cell")))
          .materialized
        // r20 (guide §2.6): the touched-cell edge overwrite and the cell
        // append are independent (different subdirs, both read only
        // materialized inputs) — overlapped. The dynamic overwrite mode
        // is this write's own option, never the shared session conf.
        graft.engine.Par.all(
          () => knnEdges(members, k).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell").parquet(s"$path/edges"),
          () => assignedBatch
            .select(col("cid"), col("ce").as("embedding"), col("cell"))
            .write.mode("append").partitionBy("cell")
            .parquet(s"$path/cells"))
      })

  /** [[writeKnnIndex]] only when needed — the [[ensureIvfIndex]] /
    * `Dedup.ensureDedupIndex` stamp protocol (data fingerprint + plan
    * hash + hyperparameters + layout version, written after the build,
    * compared on entry) applied to the kNN edge artifact. Returns true
    * when a (re)build happened.
    */
  def ensureKnnIndex(emb: DataFrame, path: String, k: Int,
      perCell: Int = 250, force: Boolean = false,
      profile: IndexProfile = IndexProfile.Exact): Boolean =
    AtRest.ensure(knnFamily(k, perCell, profile), emb, path, force)

  /** Extend an at-rest [[writeKnnIndex]] with a NEW embedding batch
    * (see [[knnFamily]]) — the `Dedup.extendDedupIndexLsh` shape for the
    * graph family, with the same `unionView` contract. Returns true when
    * any build ran.
    */
  def extendKnnIndex(baseEmb: DataFrame, newEmb: DataFrame, path: String,
      k: Int, perCell: Int = 250,
      unionView: Option[DataFrame] = None,
      profile: IndexProfile = IndexProfile.Exact): Boolean =
    AtRest.extend(knnFamily(k, perCell, profile), baseEmb, newEmb, path,
      unionView)

  /** The at-rest edge relation of a [[writeKnnIndex]] dir — re-selected
    * to the canonical (cid, cell, nid, cos) shape with the partition
    * column pinned back to long (partition-value inference must never
    * leak an int into a schema the oracle compares as BIGINT).
    */
  def readKnnEdges(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    AtRest.read(spark, path, "edges")
      .select(col("cid"), col("cell").cast("long").as("cell"),
        col("nid"), col("cos"))

  /** The trained-centroid sidecar of a [[writeKnnIndex]] or
    * [[writeIvfIndex]] dir — the (vec_id, embedding) shape every
    * `centroids` parameter takes, so a cold consumer can reuse the
    * trained model without re-running Lloyd (the cross-JVM face of the
    * session centroid memo).
    */
  def readKnnCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = AtRest.read(spark, path, "_centroids")

  /** Probe a [[writeIvfIndex]] table. The probed cell ids are collected
    * to literals — nprobe × |query batch| longs, the same bounded driver
    * state as the centroid collect — so the `cell IN (...)` filter is
    * static at planning time and the scan touches only the probed
    * partition directories. Output is identical to [[topKIvf]] with the
    * same trained centroids (ExtSpec asserts row equality).
    */
  def topKIvfIndexed(indexPath: String, queries: DataFrame, k: Int,
      nprobe: Int = 0, probeFrac: Double = probeFracDefault): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = readKnnCentroids(spark, indexPath)
    val cent = centroidRelation(centDf)
    // nprobe ≤ 0 (the default) = ADAPTIVE: probe width derived from the
    // at-rest index's own cell count via [[adaptiveNprobe]], holding
    // the probed corpus FRACTION `probeFrac` as the index scales — the
    // read-side scale default; the cell count is a k-row parquet
    // count, dim-table cost. Explicit nprobe pins the literal width
    // (the declared queries' oracle-replicated probes).
    val np =
      if (nprobe > 0) nprobe
      else adaptiveNprobe(centDf.count().toInt, probeFrac)
    // checkpointed: evaluated once for the cell-id collect and once as
    // the scoring join's broadcast side
    val q = probeCells(queries, cent, np).materialized
    val cells = q.select(col("cell")).distinct().as[Long].collect().sorted
    val idx = Tables.parquet(spark, indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col("cid"), col("ce"), col("cn"),
        col("cell").cast("long").as("cell"))
    rankProbed(idx, q, k)
  }

  /** MASS-weighted probe of a [[writeIvfIndex]] table — the skew
    * remedy for [[adaptiveNprobe]]'s cell-COUNT fraction (round-18
    * verdict #3): under Zipf head-mass a fixed cell count covers a
    * query-dependent and often TINY row fraction (recall@10 measured
    * 0.912 on the skew corpus vs 0.986 iid at the same 5% count
    * fraction, SCALE.md r17), because cell loads vary by orders of
    * magnitude while the probe treats them as equal. Here each query
    * probes its cells in descending query→centroid cosine until the
    * CUMULATIVE ROW MASS of the probed prefix reaches
    * `massFrac · n_rows` (always at least `floor` cells), so the
    * scanned-row budget — the thing that actually costs — holds
    * per-query at any skew: the worst query measured ≈ the mean to
    * 0.4% at every fraction, where the count-frac probe
    * overshoots its nominal budget 16–22% per worst query (SCALE.md
    * r18 — at equal scanned rows the two disciplines are
    * near-equivalent on recall, so this route's win is the
    * deterministic tail bound, not recall-per-row). Cell loads come
    * from the same footer-bound partition-column scan as
    * [[ivfCellLoadStats]] — metadata-bound but file-count-bound, so a
    * batch caller probing repeatedly should derive the loads relation
    * once per index version (the streaming maintenance step already
    * computes it) rather than per query batch. Centroids with no
    * landed rows are excluded from the ranking (probing an empty cell
    * buys nothing). Declared end to end as x155 with a DuckDB oracle
    * replicating the cumulative-mass prefix.
    */
  def topKIvfIndexedMass(indexPath: String, queries: DataFrame, k: Int,
      massFrac: Double, floor: Int = 2): DataFrame = {
    require(massFrac > 0 && massFrac <= 1 && floor >= 1,
      s"bad topKIvfIndexedMass args: $massFrac, $floor")
    val spark = queries.sparkSession
    import spark.implicits._
    val cent = centroidRelation(readKnnCentroids(spark, indexPath))
    // per-cell loads: reads ONLY the `cell` partition column —
    // footer/metadata-bound at any index size (ivfCellLoadStats'
    // property), k rows out
    val loads = Tables.parquet(spark, indexPath)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("mass"))
    val total = loads.agg(sum(col("mass"))).as[Long].head()
    val target = math.ceil(total * massFrac).toLong
    val q = massProbeCells(queries, cent, loads, target, floor)
      .materialized
    val cells = q.select(col("cell")).distinct().as[Long].collect().sorted
    val idx = Tables.parquet(spark, indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col("cid"), col("ce"), col("cn"),
        col("cell").cast("long").as("cell"))
    rankProbed(idx, q, k)
  }

  /** [[topKIvfIndexedMass]]'s probe-set builder: rank cells per query
    * by centroid cosine (low-id tie-break, the [[probeCells]]
    * convention) and keep the prefix whose PRECEDING cumulative mass
    * is still under the target — i.e. up to and including the first
    * cell that crosses it — never fewer than `floor` cells. queries ×
    * k rows through one bounded window.
    */
  private def massProbeCells(queries: DataFrame, cent: DataFrame,
      loads: DataFrame, target: Long, floor: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
      .join(broadcast(cent.join(loads, col("cent_id") === col("cell"))
        .drop("cell")))
      .withColumn("cent_cos",
        round(dot(col("qe"), col("cent_e")) / (col("qn") * col("cent_n")),
          6))
      .withColumn("rn", row_number().over(w))
      .withColumn("cum", sum(col("mass")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rn") <= floor || (col("cum") - col("mass")) < target)
      .select(col("qid"), col("qe"), col("qn"),
        col("cent_id").as("cell"))
  }

  /** Per-cell load statistics of an at-rest IVF index — the re-train
    * cadence SIGNAL that turns "model refresh is an offline decision"
    * into a measured one: extensions assign against frozen centroids,
    * so a drifting corpus piles rows into few cells and the probe's
    * per-cell cost grows past the perCell design point. One row:
    * (n_cells, n_rows, max_cell, mean_cell, imbalance = max/mean).
    * Reads ONLY the `cell` partition column, so the scan is
    * footer/metadata-bound (zero data pages) at any index size —
    * cheap enough to ride every maintenance step. Oracle-replicated by
    * x153 over the x139 lifecycle (base-trained model + union
    * assignment), so the stats can't silently drift from the
    * assignment route they summarize.
    */
  def ivfCellLoadStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val loads = Tables.parquet(spark, path).groupBy(col("cell"))
      .agg(count(lit(1)).as("c"))
    loads.agg(
      count(lit(1)).cast("integer").as("n_cells"),
      sum(col("c")).as("n_rows"),
      max(col("c")).as("max_cell"),
      round(sum(col("c")).cast("double") /
        count(lit(1)).cast("double"), 6).as("mean_cell"),
      round(max(col("c")).cast("double") /
        (sum(col("c")).cast("double") / count(lit(1)).cast("double")), 6)
        .as("imbalance"))
  }

  /** Refresh policy for the streaming IVF face: a maintenance step
    * whose post-extension [[ivfCellLoadStats]] imbalance exceeds this
    * threshold re-trains over the landed union (an ensure whose
    * `model=` term has drifted — the x138/x139 ensure-over-union
    * route) instead of riding the frozen model forever. ON BY DEFAULT
    * since round 17: it is the default of the streaming maintenance
    * step's `refreshImbalance` argument, where `None` pins the
    * frozen-forever behavior.
    *
    * The threshold is set by measurement, not taste
    * (100× corpus, half the label space held out as a 10-batch
    * drifting stream; SCALE.md round 17): healthy
    * post-train imbalance on the clustered corpus reads 3.0–5.3, so a
    * breach of 8 (≈ 2× healthy) is real drift — and the measured
    * recall-vs-cost curve is MONOTONE in favor of triggering early:
    * thr 8 retrained at the first drifted batch (35.6 s, union still
    * small) and ended at recall@10 0.982/0.862 (drifted/base queries)
    * vs thr 25's 54.3 s & 0.908/0.856, thr 45's 61.4 s & 0.886/0.846,
    * and frozen's 0.686/0.700 — later triggers cost MORE (the retrain
    * scales with the union) and recover LESS (reads served badly in
    * the meantime, residual mis-assignment). Waiting buys nothing.
    */
  val refreshImbalanceDefault = 8.0

  /** Session-lifetime memo of trained centroid sets, keyed by the
    * corpus's [[CorpusId]] + hyperparameters. Training is
    * deterministic, so reuse is exact — the trained index is the same
    * class of artifact as a broadcast dim, and consumers that share a
    * corpus (x15's probe, x35's recall audit, PipelineMain's SemDeDup)
    * should pay for it once per JVM, not once per query. Values are
    * k×dim floats — bounded driver state. A corpus over an RDD leaf
    * (a checkpointed relation) has no identity and trains uncached;
    * [[trainCentroidsKeyed]] names the stable inputs it derives from.
    */
  private val centroidMemo = new Memo[Seq[(Long, Seq[Float])]]

  private[graft] def trainCacheSize: Int = centroidMemo.size

  /** Stamp-prefix rewrite for a consolidated corpus: every at-rest
    * family's stamp leads with the [[CorpusId]] of its corpus read
    * plan, so re-bucketing identical rows into consolidated dirs is a
    * swap of that one field — every trailing field (params, layout
    * version, the frozen `|model=` term) carries over verbatim, which
    * is exactly what keeps the trained model FROZEN through a
    * consolidation (a fresh ensure over the new plan would re-train;
    * the restamp says "same rows, same artifact, new plan").
    */
  private[graft] def corpusPrefixRewrite(oldCorpus: DataFrame,
      newCorpus: DataFrame): String => Option[String] = {
    val o = CorpusId.field(oldCorpus) + ":"
    val n = CorpusId.field(newCorpus) + ":"
    s => if (s.startsWith(o)) Some(n + s.substring(o.length)) else None
  }

  /** Invalidation hook for callers that mutate inputs out-of-band in ways
    * the corpus identity cannot see — e.g. an object store that
    * preserves mtimes on restore.
    */
  def invalidateTrainedCentroids(): Unit = centroidMemo.clear()

  /** [[trainCentroids]]' memo key: (corpus identity, tag). */
  private[graft] def centroidKey(corpus: DataFrame, nCentroids: Int,
      iters: Int, init: String = "first"): (Option[String], String) =
    (CorpusId.of(corpus), s"full:$nCentroids:$iters:$init")

  private[graft] def trainCacheContains(corpus: DataFrame, nCentroids: Int,
      iters: Int): Boolean =
    (centroidMemo.contains _).tupled(centroidKey(corpus, nCentroids, iters))

  /** Above this centroid count the Lloyd assignment switches from
    * inlined literal-centroid expressions to a broadcast join
    * ([[assignBroadcastJoin]]). The literal form inlines k constant
    * arrays into the generated argmax — ideal at dim-table k (zero
    * shuffle, pure whole-stage codegen) but past a few hundred
    * centroids the generated method blows the JVM's 64 KB bytecode
    * limit and codegen falls back to interpretation; a production IVF
    * wants k ~ √n (thousands). Both paths produce bit-identical
    * assignments (ExtSpec asserts row identity), so the crossover is a
    * pure plan-shape choice.
    */
  private val LiteralKMax = 64

  /** Ceiling on the adaptive cell count. k ∝ n removes the n²/k edge
    * quadratic, but an UNBOUNDED k re-creates walls on the model side:
    * the sampled-training sample is 50·k rows through one single-
    * partition row_number window, each Lloyd pass costs sample·k =
    * 50·k², and the trained model is a k-row driver-collected literal/
    * broadcast relation — all fine at k ≤ ~10³–10⁴ and binding past it
    * (SCALE.md round 15 measured the terms at k = 5 000). The cap
    * trades bounded model cost for expected cell size growing as n/kMax
    * past n = kMax·perCell (≈1 M vectors at the defaults): within-cell
    * edge mass becomes n²/kMax — the honest IVF deployment trade, where
    * corpora beyond ~kMax·perCell re-shard by a coarser outer key
    * (source, date) before indexing. The declared oracles mirror it as
    * `least(4096, …)`.
    */
  private[graft] val KMax = 4096

  /** The kNN-family cell-count CONTRACT made executable: centroids
    * scale with the corpus, k = min(kMax, max(floor, n / perCell)), so
    * expected cell size stays ~perCell and the cell-local pair mass
    * Σ|cell|² ≈ n·perCell is LINEAR in n until the model-cost ceiling
    * [[KMax]] binds (perCell = 250 matches the measured remedy row:
    * k = 80 at the 10× corpus). At a fixed k that mass is n²/k — the
    * self-inflicted quadratic the x94-family 10× probes measured at
    * exp ≈ 1.0, with the k ∝ n remedy measured at exp 0.05 (SCALE.md
    * round 8). One count() action — bounded driver
    * state, trivially cheaper than the training it sizes. The declared
    * x94/x104/x105/x111 queries derive k through this, and their
    * DuckDB oracles compute the identical
    * `least(4096, greatest(floor, n//perCell))` from the same relation.
    */
  def adaptiveCellCount(corpus: DataFrame, floor: Int = 8,
      perCell: Int = 250): Int = {
    require(floor >= 1 && perCell >= 1,
      s"floor/perCell must be >= 1: $floor, $perCell")
    require(KMax >= floor, s"kMax $KMax must be >= floor $floor")
    math.min(KMax, math.max(floor, (corpus.count() / perCell).toInt))
  }

  /** Probed fraction backing [[topKIvfIndexed]]'s ADAPTIVE default
    * (nprobe ≤ 0): 0.05 is the measured production point — recall@10
    * 0.954 at k = 4096 where the old fixed nprobe = 2 read 0.12, at 20×
    * less scanned mass than brute (SCALE.md round 15). The floor (2)
    * reproduces the former literal default at every validation-scale
    * index (ceil(k·0.05) < 2 for all k ≤ 40), so small-k callers and
    * the declared oracle-pinned probes see identical rows; only a
    * deployment whose cell count actually grows gets the wider probe it
    * needs.
    */
  private[graft] val probeFracDefault = 0.05

  /** The probe-side complement of [[adaptiveCellCount]]: nprobe sized
    * so the probed corpus FRACTION holds as k scales. A fixed nprobe
    * makes recall fall with corpus growth (probed fraction = nprobe/k:
    * measured recall@10 vs brute 0.57 at k = 80, 0.16 at k = 800, 0.12
    * at k = 4 096 under nprobe = 2 — SCALE.md round 15), which is the
    * same self-inflicted scaling bug on the READ side that a fixed k
    * was on the write side. nprobe = max(floor, ⌈k·frac⌉) keeps the
    * probe's scanned mass ≈ frac·n rows at any k — cost linear in the
    * target recall band, not in the corpus. The DECLARED queries keep
    * their literal nprobe = 2 (oracle-pinned probes at validation
    * k ≤ 8); this is the documented production dial.
    */
  def adaptiveNprobe(nCells: Int, frac: Double = 0.01,
      floor: Int = 2): Int = {
    require(nCells >= 1 && frac > 0 && frac <= 1 && floor >= 1,
      s"bad adaptiveNprobe args: $nCells, $frac, $floor")
    math.min(nCells, math.max(floor, math.ceil(nCells * frac).toInt))
  }

  /** Distributed Lloyd k-means refinement for IVF centroids. Init is the
    * deterministic first-N (same as [[topKIvf]]'s default); each
    * iteration assigns every vector to its nearest centroid by cosine
    * and recomputes cell means per dimension (posexplode → per-(cell,
    * dim) mean → array reassembly), i.e. two narrow shuffles per
    * iteration keyed on (cell, dim) — the textbook scalable k-means
    * shape (k-means|| init would slot in the same way). A cell that
    * loses all members simply disappears (fewer, better-shaped cells).
    * Output schema matches the corpus (`vec_id` = cell id, `embedding`),
    * so it drops straight into [[topKIvf]]'s `centroids` override.
    *
    * The centroid relation is k×d floats — dim-class driver state (the
    * PQ codebook's class) — so each iteration COLLECTS it and inlines
    * the next assignment as literal-array expressions: the per-vector
    * argmax is pure whole-stage codegen (k [[graft.functions.VecDot]]
    * calls against constant arrays, centroid norms constant-folded), no
    * broadcast exchange and no join anywhere in the loop. Besides being
    * the cheapest map-side shape at 100 TB, this keeps consumers free:
    * the returned relation is k local rows, never a lazy training chain
    * re-run at every downstream use (the join-based form cost x15 the
    * full 3-iteration lineage per reference — measured 5.2 s vs 2.8 s
    * for the identical result).
    *
    * Fully engine-portable so the DuckDB oracle can unroll the identical
    * iterations (ExtQueries.kmeansCte): assignment cosines are rounded to
    * 6 digits with the low-id tie-break (same convention as [[topKIvf]];
    * `array_max` over (cc, -id) structs = the former max_by), and the
    * per-dimension mean is computed over values quantized to 1e-6
    * — an exact BIGINT sum (order-independent, unlike a parallel double
    * sum) followed by two IEEE double divisions and a float cast, each
    * bit-deterministic in both engines.
    */
  def trainCentroids(corpus: DataFrame, nCentroids: Int = 8,
      iters: Int = 3, init: String = "first"): DataFrame = {
    val (id, tag) = centroidKey(corpus, nCentroids, iters, init)
    centroidFrame(corpus, centroidMemo(id, tag)(
      trainCentroidsUncached(corpus, nCentroids, iters, init)))
  }

  private def centroidFrame(like: DataFrame,
      cent: Seq[(Long, Seq[Float])]): DataFrame = {
    val spark = like.sparkSession
    import spark.implicits._
    cent.toDF("vec_id", "embedding")
  }

  /** Partition count for a re-spread training sample, derived from the
    * Lloyd pass's WORK (sample·k cosine evaluations, ~250k per task)
    * instead of a flat defaultParallelism — the guide's
    * scale-adaptive-partitioning rule applied to the trainer: a
    * validation-scale sample (100 rows × k=8) runs as ONE task instead
    * of 32 near-empty shuffle map tasks (whose per-task
    * file-create/mmap kernel cost dominated trainer CPU — measured 26
    * CPU-s → ~1.5 CPU-s per x122 pass at sf0.1, r19 thread dumps),
    * while a production sample (200k rows × k=4096 ⇒ byWork ≫ cores)
    * still spreads across the full cluster (capped at
    * defaultParallelism, the pre-r19 behavior).
    */
  private def samplePartitions(spark: org.apache.spark.sql.SparkSession,
      sampleRows: Int, k: Int): Int = {
    val byWork = math.ceil(sampleRows.toDouble * k / 250000.0).toInt
    math.max(1, math.min(spark.sparkContext.defaultParallelism, byWork))
  }

  /** [[trainCentroids]] over a deterministic hash-ordered SUBSAMPLE —
    * the standard IVF training practice (train Lloyd on ~50–100 rows
    * per centroid, not the corpus) and the measured remedy for the
    * training term that dominates once k scales with n (66.8 s at
    * 100×/k=800 full-corpus vs the sampled cost, SCALE.md round 11):
    * every Lloyd pass costs sample·k instead of n·k, while centroid
    * QUALITY degrades only marginally (quantization cosine measured
    * there too — means over ≥50·k rows estimate cluster means well).
    * The sample is hash-ordered (ingest order cannot bias it toward a
    * source) and re-identified 0..s−1 so the "first-k" seeding rule
    * stays meaningful on it; the single-partition row_number sort is
    * bounded by `maxTrainRows` — training-sample-class driver state,
    * never the corpus. Result ids are 0..k−1 as with [[trainCentroids]],
    * and the session cache keys on the SOURCE corpus + parameters.
    */
  def trainCentroidsSampled(corpus: DataFrame, nCentroids: Int,
      maxTrainRows: Int, iters: Int = 3): DataFrame =
    centroidFrame(corpus, centroidMemo(CorpusId.of(corpus),
        s"sampled:$nCentroids:$maxTrainRows:$iters") {
      trainCentroidsUncached(trainingSample(corpus, nCentroids, maxTrainRows),
        nCentroids, iters, "first")
    })

  /** The hash-ordered training sample of [[trainCentroidsSampled]] and
    * [[trainCentroidsHier]]: at most `maxTrainRows` rows, re-identified
    * 0..s−1 so the first-k seeding rule stays meaningful on it.
    */
  private def trainingSample(corpus: DataFrame, nCentroids: Int,
      maxTrainRows: Int): DataFrame = {
    require(maxTrainRows >= nCentroids,
      s"maxTrainRows $maxTrainRows must be >= nCentroids $nCentroids")
    // materialized AND re-spread: without this every Lloyd pass would
    // re-run the corpus TakeOrdered, and the single-partition window
    // output would serialize the assignment joins onto one task
    // (measured: the un-materialized draft trained SLOWER than the
    // full corpus — 113 s vs 64 s at 100×/k=800)
    corpus
      .orderBy(md5(concat(lit("ktrain:"), col("vec_id").cast("string"))),
        col("vec_id"))
      .limit(maxTrainRows)
      .select(col("vec_id"), col("embedding"))
      .withColumn("rid",
        row_number().over(Window.orderBy(col("vec_id"))) - 1)
      .select(col("rid").cast("long").as("vec_id"), col("embedding"))
      .repartition(
        samplePartitions(corpus.sparkSession, maxTrainRows, nCentroids))
      .materialized
  }

  /** [[trainCentroidsSampled]] with the per-pass assignment made
    * TWO-LEVEL — the model-side twin of [[assignCellsCoarse]], and the
    * lever that removes the training ceiling the kMax cap trades
    * around: plain sampled Lloyd costs sample·k per pass (50·k² at the
    * 50-rows-per-centroid sample — 448.8 s at k = 4 096, 723.1 s at
    * k = 5 000, SCALE.md round 15), while restricting each sample
    * row's argmax to its best coarse group's member centroids costs
    * ~2·sample·√k per pass — the whole training is then
    * O(k^1.5) instead of O(k²), so k can scale another ~decade past
    * the cap before the model side binds again.
    *
    * Approximate the same way [[assignCellsCoarse]] is: a sample row
    * whose true best centroid sits outside its best coarse group
    * updates that group's best instead — hierarchical k-means, the
    * standard web-scale IVF training shape. The coarse model is
    * re-derived from the CURRENT centroids each pass (k-row Lloyd —
    * trivial), so group structure tracks centroid drift; init is the
    * same first-k rule over the same hash-ordered re-identified
    * sample, and the per-pass mean update is the identical
    * 1e-6-quantized engine-portable arithmetic ([[lloydUpdate]]).
    * Session-memoized like the other trainers.
    */
  def trainCentroidsHier(corpus: DataFrame, nCentroids: Int,
      maxTrainRows: Int, iters: Int = 3, coarseK: Int = 0,
      nprobeGroups: Int = 1): DataFrame =
    centroidFrame(corpus, centroidMemo(CorpusId.of(corpus),
        s"hier:$nCentroids:$maxTrainRows:$iters:$coarseK:$nprobeGroups") {
      val spark = corpus.sparkSession
      import spark.implicits._
      val sample = trainingSample(corpus, nCentroids, maxTrainRows)
      var cent: Seq[(Long, Seq[Float])] = sample
        .filter(col("vec_id") < nCentroids)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
      for (_ <- 0 until iters if cent.nonEmpty) {
        val assigned = assignCellsCoarse(sample,
          cent.toDF("vec_id", "embedding"), coarseK, nprobeGroups)
          .select(col("ce").as("embedding"), col("cell"))
        cent = lloydUpdate(assigned)
      }
      cent
    })

  /** Mean per-vector best assigned cosine — the quantization-quality
    * scalar probes compare centroid sets with (higher = vectors sit
    * closer to their cells). One broadcast pass + a 1-row agg.
    */
  private[graft] def meanAssignedCosine(corpus: DataFrame,
      centroids: DataFrame): Double =
    corpus
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      .join(broadcast(centroidRelation(centroids)))
      .withColumn("cc",
        round(dot(col("embedding"), col("cent_e")) /
          (col("nrm") * col("cent_n")), 6))
      .groupBy(col("vec_id")).agg(max(col("cc")).as("best"))
      .agg(avg(col("best"))).head().getDouble(0)

  /** [[trainCentroids]] for corpora whose RELATION is checkpointed (an
    * RDD leaf — plan identity unique per materialization, so the normal
    * memo can never hit) but whose CONTENT is a pure deterministic
    * function of stable upstream inputs. The caller names that closure:
    * `keyTag` identifies the derivation (include every flag that changes
    * the derived corpus) and `keyCorpora` are the file-backed inputs it
    * is derived from — the memo key is their [[CorpusId]]s, so a
    * rewritten input file invalidates exactly like [[trainCentroids]]'s
    * own key. First call trains on the (fast,
    * block-resident) checkpointed corpus; later calls in the session —
    * bench passes, repeated pipeline runs — reuse the model, the x47
    * resident-index pattern applied to training.
    *
    * The CALLER owns key correctness: a tag that omits a flag which
    * changes the derived corpus silently serves stale centroids.
    */
  def trainCentroidsKeyed(corpus: DataFrame, keyTag: String,
      keyCorpora: Seq[DataFrame], nCentroids: Int = 8, iters: Int = 3,
      init: String = "first"): DataFrame =
    centroidFrame(corpus, centroidMemo(CorpusId.of(keyCorpora),
        s"keyed:$keyTag:$nCentroids:$iters:$init")(
      trainCentroidsUncached(corpus, nCentroids, iters, init)))

  private def trainCentroidsUncached(corpus: DataFrame, nCentroids: Int,
      iters: Int, init: String): Seq[(Long, Seq[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cent: Seq[(Long, Seq[Float])] = init match {
      case "first" => corpus
        .filter(col("vec_id") < nCentroids)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
      case "parallel" => initKMeansParallel(corpus, nCentroids)
      case other => throw new IllegalArgumentException(
        s"init must be 'first' or 'parallel', got '$other'")
    }
    for (_ <- 0 until iters if cent.nonEmpty) {
      val assigned =
        if (cent.size <= LiteralKMax) assignLiteral(corpus, cent)
        else assignBroadcastJoin(corpus, cent)
      cent = lloydUpdate(assigned)
    }
    cent
  }

  /** Small-k Lloyd assignment: nearest-centroid id per vector as a max
    * over (rounded cosine, -id) structs against LITERAL centroid arrays
    * — identical semantics to max_by(cent_id, struct(cc, -id)), zero
    * shuffle, centroid norms constant-folded, pure whole-stage codegen.
    * Returns (embedding, cell).
    */
  private[graft] def assignLiteral(corpus: DataFrame,
      cent: Seq[(Long, Seq[Float])]): DataFrame = {
    val scored = cent.map { case (id, e) =>
      val le = lit(e.toArray)
      struct(
        round(dot(col("embedding"), le) / (col("nrm") * norm(le)), 6)
          .as("cc"),
        lit(-id).as("nid"))
    }
    corpus
      .select(col("embedding"), norm(col("embedding")).as("nrm"))
      .select(col("embedding"),
        (-array_max(array(scored: _*)).getField("nid")).as("cell"))
  }

  /** Large-k Lloyd assignment: the [[assignCells]] shape — a broadcast
    * join against the k×d centroid relation plus a per-vector max_by
    * aggregation. One broadcast exchange and one groupBy shuffle per
    * iteration, but the generated code is k-independent, so this is the
    * only shape that survives production centroid counts (k ~ √n,
    * thousands). Same rounded-cosine argmax and low-id tie-break as
    * [[assignLiteral]] — outputs are row-identical. Requires distinct
    * `vec_id` per corpus row (the grouping key that reassembles each
    * vector's argmax). Returns (embedding, cell).
    */
  private[graft] def assignBroadcastJoin(corpus: DataFrame,
      cent: Seq[(Long, Seq[Float])]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = cent.toDF("cent_id", "cent_e")
      .select(col("cent_id"), col("cent_e"), norm(col("cent_e")).as("cent_n"))
    corpus
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .join(broadcast(centDf))
      .withColumn("cc",
        round(dot(col("embedding"), col("cent_e")) /
          (col("nrm") * col("cent_n")), 6))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        max_by(col("cent_id"),
          struct(col("cc"), (-col("cent_id")).as("nid"))).as("cell"))
      .select(col("embedding"), col("cell"))
  }

  /** One Lloyd mean-update over an assigned (embedding, cell) relation:
    * per-dimension mean over values quantized to 1e-6 (exact BIGINT sum,
    * order-independent) reassembled into float centroid arrays — the
    * engine-portable arithmetic the DuckDB oracle replicates.
    */
  private def lloydUpdate(assigned: DataFrame): Seq[(Long, Seq[Float])] = {
    import org.apache.spark.sql.types.{DoubleType, FloatType, LongType}
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(round(col("v").cast(DoubleType) * 1e6, 0).cast(LongType))
        .as("s"), count(lit(1)).as("n"))
      .select(col("cell"), col("pos"),
        (col("s").cast(DoubleType) / col("n") / 1e6).cast(FloatType).as("m"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cent_e"))
      .select(col("cell"), col("cent_e"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
  }

  /** Deterministic k-means‖-style init (Bahmani et al., VLDB 2012,
    * arXiv:1203.6402): instead of first-N ids, oversample ~2k candidates
    * proportional to their squared angular distance from the current
    * seed set over a fixed number of rounds, weight each candidate by
    * the corpus mass nearest to it, and reduce driver-side to k seeds —
    * the init that makes large-k Lloyd converge in few iterations on
    * skewed corpora, where first-N can seed all centroids inside one
    * dense region. Fully deterministic: the "coin flip" is a
    * hash-derived uniform (xxhash64 of (vec_id, round) scaled to [0,1)),
    * the seed is the lowest-id vector, and every driver-side tie breaks
    * on the lowest candidate index — same result every run, so the
    * session cache stays exact.
    *
    * Driver state is bounded: ~(1 + rounds·2k) candidate vectors (the
    * PQ-codebook class of object), never the corpus. Each round is one
    * broadcast-join pass; the weighting is one more. Returns ≤ k seeds
    * re-numbered 0..k-1 (fewer iff the corpus itself has fewer distinct
    * useful candidates — the same "cell may disappear" contract as the
    * Lloyd loop).
    */
  private[graft] def initKMeansParallel(corpus: DataFrame,
      k: Int, rounds: Int = 2): Seq[(Long, Seq[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val l = 2L * k // oversampling factor per round, the paper's Θ(k)
    var cand: Vector[Seq[Float]] = corpus.orderBy(col("vec_id")).limit(1)
      .select(col("embedding")).as[Seq[Float]].collect().toVector
    if (cand.isEmpty) return Seq.empty
    def candRelation(c: Vector[Seq[Float]]): DataFrame =
      c.zipWithIndex.map { case (e, i) => (i.toLong, e) }
        .toDF("cent_id", "cent_e")
        .select(col("cent_id"), col("cent_e"),
          norm(col("cent_e")).as("cent_n"))
    for (r <- 1 to rounds) {
      // d² per vector = squared angular distance (1 - max cosine) to the
      // candidate set; φ = Σ d² normalizes the sampling probability
      val d2 = corpus
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
        .join(broadcast(candRelation(cand)))
        .withColumn("cc", round(dot(col("embedding"), col("cent_e")) /
          (col("nrm") * col("cent_n")), 6))
        .groupBy(col("vec_id"))
        .agg(first(col("embedding")).as("e"),
          (lit(1.0) - max(col("cc"))).as("d"))
        .select(col("vec_id"), col("e"), (col("d") * col("d")).as("d2"))
      val phi = d2.agg(sum(col("d2"))).as[Option[Double]].head().getOrElse(0.0)
      if (phi > 0) {
        // accept iff u(vec_id, r) < l·d²/φ, u = hash-uniform in [0,1)
        val picked = d2
          .withColumn("u",
            pmod(xxhash64(col("vec_id"), lit(r)), lit(1L << 40))
              .cast("double") / (1L << 40).toDouble)
          .filter(col("u") * phi < col("d2") * l)
          .orderBy(col("vec_id"))
          .select(col("e")).as[Seq[Float]].collect()
        cand = cand ++ picked
      }
    }
    // weight = corpus mass nearest each candidate (one assignment pass)
    val wMap = corpus
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .join(broadcast(candRelation(cand)))
      .withColumn("cc", round(dot(col("embedding"), col("cent_e")) /
        (col("nrm") * col("cent_n")), 6))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"),
        struct(col("cc"), (-col("cent_id")).as("nid"))).as("cell"))
      .groupBy(col("cell")).count()
      .as[(Long, Long)].collect().toMap
    // driver-side greedy weighted reduction to k (the paper reclusters
    // the candidates with any weighted k-means; a deterministic greedy
    // — heaviest first, then argmax of weight × squared distance to the
    // chosen set — avoids RNG while keeping seeds spread): O(k·|cand|)
    // on ≤ ~(1+rounds·2k) local vectors
    def cosLocal(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    val w = cand.indices.map(i => wMap.getOrElse(i.toLong, 0L).toDouble)
    val taken = Array.fill(cand.size)(false)
    val minD = Array.fill(cand.size)(Double.MaxValue)
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    chosen += cand.indices.maxBy(i => (w(i), -i))
    taken(chosen.head) = true
    while (chosen.size < math.min(k, cand.size)) {
      val last = cand(chosen.last)
      var best = -1; var bestScore = -1.0
      var i = 0
      while (i < cand.size) {
        if (!taken(i)) {
          val d = 1.0 - cosLocal(cand(i), last)
          if (d < minD(i)) minD(i) = d
          val score = w(i) * minD(i) * minD(i)
          if (score > bestScore) { bestScore = score; best = i }
        }
        i += 1
      }
      chosen += best
      taken(best) = true
    }
    chosen.toSeq.map(cand(_)).zipWithIndex
      .map { case (e, i) => (i.toLong, e) }
  }

  /** Rounded squared-L2 between two subvectors — the single distance
    * definition every PQ path (relational encode, query LUT, and the
    * [[graft.functions.PqEncode]] loop, which hand-replicates it) must
    * agree on byte-for-byte.
    */
  private def pqL2sq(a: Column, b: Column): Column =
    round(dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b), 6)

  /** Explode a vector relation into its `m` `sub`-wide subvector windows
    * — shared by the relational encode, the codebook, and the query LUT
    * so the slice-window semantics live in exactly one place.
    */
  private def pqSubspaces(df: DataFrame, idAs: String, sub: Int,
      m: Int): DataFrame = df
    .select(col("vec_id").as(idAs), col("embedding"))
    .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
    .select(col(idAs), col("j"),
      slice(col("embedding"), col("j") * sub + 1, lit(sub)).as("sv"))

  /** IVF-PQ top-k (Jégou et al., TPAMI 2011 "Product Quantization for
    * Nearest Neighbor Search"): the coarse IVF quantizer prunes the
    * corpus to each query's `nprobe` probed cells, and ranking inside
    * the surviving cells runs on 8-byte PQ codes via the per-query ADC
    * lookup table — the layout every billion-scale ANN store ships.
    *
    * Scale shape: `cell` and the `m` codes are both AT-REST index
    * columns (exactly what [[writeIvfIndex]] persists, plus
    * [[pqCodes]]'s output) — the probe reads only `cell=` partitions
    * and never touches raw vectors; the ADC table (queries × m ×
    * codebookSize rows, dim-table-class) broadcasts; the only
    * corpus-scale shuffle is the codes↔candidate equi-join on the
    * vector id. Approximate in exactly two documented ways (cell recall
    * × PQ distortion); determinism contract identical to x15/x24 —
    * rounded distances, id tie-breaks, first-`n` codebooks/centroids —
    * so the DuckDB oracle hash-checks the full output.
    */
  def topKIvfPq(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 8, nprobe: Int = 2, dim: Int = 64, m: Int = 8,
      codebookSize: Int = 256,
      centroids: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    require(dim % m == 0,
      s"dim ($dim) must divide evenly into $m subspaces — uneven slices " +
        "would silently misread subvector windows")
    val sub = dim / m
    val cent = centroidRelation(
      centroids.getOrElse(corpus.filter(col("vec_id") < nCentroids)))
    // (qid, cid) candidate pairs: corpus rows whose cell one of the
    // query's probed cells — the partition-pruned survivor set
    val cand = assignCells(corpus, cent).select(col("cid"), col("cell"))
      .join(broadcast(
        probeCells(queries, cent, nprobe).select(col("qid"), col("cell"))),
        Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"))
    val cb = pqSubspaces(corpus.filter(col("vec_id") < codebookSize),
      "code_id", sub, m).withColumnRenamed("sv", "cb_sub")
    val codes = pqCodes(corpus, sub, m, codebookSize)
    val lut = pqSubspaces(queries, "qid", sub, m)
      .join(broadcast(cb), Seq("j"))
      .select(col("qid"), col("j"), col("code_id"),
        pqL2sq(col("sv"), col("cb_sub")).as("d"))
    val adist = codes.join(cand, Seq("cid"))
      .join(broadcast(lut),
        codes("j") === lut("j") && codes("code") === lut("code_id") &&
          cand("qid") === lut("qid"))
      .groupBy(cand("qid"), col("cid"))
      .agg(sum(col("d").cast(DecimalType(18, 6))).cast(DoubleType).as("adist"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc, col("cid").asc)
    adist
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("adist"))
  }

  /** Product-quantization top-k (the FAISS-style IVF-PQ scale path,
    * minus the IVF gate which [[topKIvf]] already provides): vectors are
    * split into `m` subvectors, each encoded as its nearest of
    * `codebookSize` subspace centroids — 1 byte per subspace, a 64-dim
    * float vector compresses 32× to an 8-byte code. Queries never touch
    * the raw corpus vectors: a per-query lookup table of
    * (subspace, code) → squared-L2 contributions is broadcast, and the
    * approximate distance is the 8-term LUT sum (asymmetric distance
    * computation). At 100 TB the corpus at rest is codes, not floats —
    * the scan is 32× smaller and the per-candidate cost is m lookups,
    * no dot products.
    *
    * Everything is relational: encode = explode-by-subspace + broadcast
    * codebook join + min_by argmin; ADC = equi-join codes×LUT on
    * (subspace, code) + decimal-exact sum. Codebooks are deterministic
    * (subvectors of the first `codebookSize` corpus vectors —
    * [[trainCentroids]]-style k-means would slot in per subspace), all
    * distances are rounded and tie-broken on ids, so the DuckDB oracle
    * reproduces the output exactly.
    */
  def topKPq(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, m: Int = 8, codebookSize: Int = 256): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    require(dim % m == 0,
      s"dim ($dim) must divide evenly into $m subspaces — uneven slices " +
        "would silently misread subvector windows")
    val sub = dim / m
    val cb = pqSubspaces(corpus.filter(col("vec_id") < codebookSize),
      "code_id", sub, m).withColumnRenamed("sv", "cb_sub")
    val codes = pqCodes(corpus, sub, m, codebookSize)
    val lut = pqSubspaces(queries, "qid", sub, m)
      .join(broadcast(cb), Seq("j"))
      .select(col("qid"), col("j"), col("code_id"),
        pqL2sq(col("sv"), col("cb_sub")).as("d"))
    val adist = codes
      .join(broadcast(lut),
        codes("j") === lut("j") && codes("code") === lut("code_id"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("d").cast(DecimalType(18, 6))).cast(DoubleType).as("adist"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc, col("cid").asc)
    adist
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("adist"))
  }

  /** PQ encode, expression path: one codegen'd argmin pass per row via
    * [[graft.functions.PqEncode]] over a plan-time codebook. The codebook
    * is a bounded collect (≤ `codebookSize` vectors — dim-table-sized, the
    * same class of driver object as a broadcast dim or a trained k-means
    * model), sorted by id so distance ties keep the lowest code id exactly
    * like the relational `min_by`. Output (cid, j, code) row-equals
    * [[pqCodesRelational]] (GraftFunctionsSpec).
    */
  def pqCodes(corpus: DataFrame, sub: Int, m: Int,
      codebookSize: Int): DataFrame = {
    val codebook = corpus.filter(col("vec_id") < codebookSize)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq
    val encoded = corpus.select(col("vec_id").as("cid"),
      posexplode(graft.functions.PqEncode.pq_encode(
        col("embedding"), sub, codebook, m)).as(Seq("j", "code")))
      .select(col("cid"), col("j").cast("int").as("j"), col("code"))
    // empty codebook → the relational join yields zero rows; match that
    // instead of emitting argmin-never-ran sentinel codes
    if (codebook.isEmpty) encoded.limit(0) else encoded
  }

  /** The explode + broadcast-codebook-join + `min_by` encode — the
    * relational cross-check for [[pqCodes]]; materializes
    * corpus·m·|codebook| join rows, so the expression path backs the
    * declared query.
    */
  def pqCodesRelational(corpus: DataFrame, dim: Int, m: Int,
      codebookSize: Int): DataFrame = {
    val sub = dim / m
    val cb = pqSubspaces(corpus.filter(col("vec_id") < codebookSize),
      "code_id", sub, m).withColumnRenamed("sv", "cb_sub")
    pqSubspaces(corpus, "cid", sub, m)
      .join(broadcast(cb), Seq("j"))
      .select(col("cid"), col("j"), col("code_id"),
        pqL2sq(col("sv"), col("cb_sub")).as("d"))
      .groupBy(col("cid"), col("j"))
      .agg(min_by(col("code_id"), struct(col("d"), col("code_id"))).as("code"))
  }

  /** Bucketed (LSH) top-k: candidates limited to the query's bucket; the
    * bucket column is groupable/bucketable at rest, so at scale the join
    * is partition-pruned instead of all-pairs. Approximate by design —
    * recall depends on nbits; verify-side rank semantics identical to
    * [[topKBrute]].
    */
  def topKLsh(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, nbits: Int = 4): DataFrame = {
    val c = corpus.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"),
      hyperplaneBucket(col("embedding"), dim, nbits).as("bucket"))
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      norm(col("embedding")).as("qn"),
      hyperplaneBucket(col("embedding"), dim, nbits).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cos"))
  }

  /** Top principal component of the embedding covariance by power
    * iteration — the spectral diagnostic of an embedding corpus: a
    * dominant λ₁ means the space has collapsed toward one direction
    * (anisotropy), and the loading vector is the direction whitening /
    * mean-centering would remove first. Runs entirely inside the engine:
    * per iteration, g = Σᵢ (xᵢ−μ)·((xᵢ−μ)ᵀv) — one corpus pass of
    * per-row dot products and a per-dimension partial-aggregated sum,
    * never a dim×dim covariance materialization, so the cost is
    * O(rows·dim) per iteration at any corpus size and the only state
    * between passes is the 1-row v relation (broadcast, dim-table-class).
    *
    * Engine-portable determinism (the x58/k-means arithmetic contract):
    * μ from 1e-6-quantized exact BIGINT sums; per-row projections are
    * ordered double folds ([[dotHof]] ≡ DuckDB's list_dot_product);
    * per-dim accumulations round each addend to 6 dp and sum as
    * DECIMAL(38,12) so reduction order can't move a bit; v re-normalized
    * and 6-dp-rounded each pass. λ₁ = vᵀg/n with the v that produced g.
    * Returns one row per dimension: (d 1-based, loading, eigval).
    */
  def pcaTopComponent(corpus: DataFrame, dim: Int = 64,
      iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = corpus.select(col("vec_id"), col("embedding"))
    val n1 = e.agg(count(lit(1)).cast(DoubleType).as("n"))

    val mu1 = e
      .select(posexplode(col("embedding")).as(Seq("d0", "x")))
      .groupBy(col("d0"))
      .agg(sum(round(col("x").cast(DoubleType) * 1e6, 0).cast(LongType))
        .as("s"))
      .crossJoin(broadcast(n1))
      .select(col("d0"),
        (col("s").cast(DoubleType) / col("n") / 1e6).as("m"))
      .agg(transform(
        array_sort(collect_list(struct(col("d0"), col("m")))),
        s => s.getField("m")).as("mu"))

    val centered = e.crossJoin(broadcast(mu1))
      .select(zip_with(col("embedding"), col("mu"),
        (a, b) => a.cast(DoubleType) - b).as("em"))

    val v0 = n1.select(array((1 to dim).map(_ => lit(1.0)): _*).as("v"))
    var v = v0
    var vPrev = v0
    var g = v0 // overwritten before first read
    for (_ <- 1 to iters) {
      val withC = centered.crossJoin(broadcast(v))
        .select(col("em"), dotHof(col("em"), col("v")).as("c"))
      g = withC
        .select(col("c"), posexplode(col("em")).as(Seq("d0", "emd")))
        .groupBy(col("d0"))
        .agg(sum(round(col("c") * col("emd"), 6).cast(DecimalType(38, 12)))
          .cast(DoubleType).as("g"))
        .agg(transform(
          array_sort(collect_list(struct(col("d0"), col("g")))),
          s => s.getField("g")).as("gv"))
      vPrev = v
      v = g
        .select(col("gv"), sqrt(dotHof(col("gv"), col("gv"))).as("nrm"))
        .select(transform(col("gv"), x => round(x / col("nrm"), 6)).as("v"))
    }
    v.crossJoin(broadcast(g))
      .crossJoin(broadcast(vPrev.select(col("v").as("vp"))))
      .crossJoin(broadcast(n1))
      .select(
        round(dotHof(col("gv"), col("vp")) / col("n"), 6).as("eigval"),
        posexplode(col("v")).as(Seq("d0", "loading")))
      .select((col("d0") + 1).cast("int").as("d"), col("loading"),
        col("eigval"))
  }

  /** Simplified (centroid-based) silhouette per trained k-means cell —
    * the clustering-quality ledger read before trusting the cells for
    * SemDeDup (x39), balanced sampling (x55), or IVF probing (x15): a
    * cell whose mean silhouette sits near 0 is not a real neighborhood,
    * and its quota/prune decisions are noise. Per vector, `a` = cosine
    * distance to its own (argmax) centroid and `b` = distance to the
    * best OTHER centroid; s = (b−a)/max(a,b), which under the argmax
    * assignment reduces to (own−other)/(1−other) with `b ≥ a` always.
    *
    * Scale shape: one corpus pass against the broadcast centroid
    * relation (dim-table-class, the x15 contract); the per-vector
    * reduction is a k-bounded `collect_list` that partial-aggregates —
    * slot 1 of the sorted array IS the cell assignment (same
    * (cos desc, low-id) tie-break as [[cellAssignments]]), slot 2 the
    * runner-up, so no window sort ever touches the vectors×centroids
    * product. Output is cells-bounded. Cosines are 6-dp rounded and the
    * per-cell means are round-then-DECIMAL sums — engine-portable.
    */
  def silhouette(emb: DataFrame, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 12)
    val cent = centroidRelation(centroids)
    val scored = emb
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn"))
      .join(broadcast(cent))
      .select(col("cid"), col("cent_id"),
        round(dot(col("ce"), col("cent_e")) / (col("cn") * col("cent_n")), 6)
          .as("ccos"))
    val per = scored
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(
        struct((-col("ccos")).as("nc"), col("cent_id")))).as("cc"))
      .select(col("cid"),
        col("cc").getItem(0).getField("cent_id").as("cell"),
        (-col("cc").getItem(0).getField("nc")).as("own"),
        // get(), not getItem(): under ANSI a single-centroid relation
        // would throw INVALID_ARRAY_INDEX on the slot-2 lookup; get()
        // yields null, which the filter below drops
        (-get(col("cc"), lit(1)).getField("nc")).as("other"))
      // a single-centroid relation has no "best OTHER centroid" — the
      // silhouette is undefined, and both engines agree on EMPTY output
      // (the oracle's rn = 2 inner join finds no runner-up row; here the
      // slot-2 lookup is null and is dropped rather than emitted as a
      // null-sil row)
      .filter(col("other").isNotNull)
      .select(col("cid"), col("cell"), col("own"),
        when(lit(1.0) - col("other") === 0.0, lit(0.0))
          .otherwise(round((col("own") - col("other")) /
            (lit(1.0) - col("other")), 6)).as("sil"))
    per.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("sil").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_sil"),
        min(col("sil")).as("min_sil"),
        round(sum(col("own").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_cohesion"))
  }

  /** The cell-local top-`k` neighbor EDGE relation (cid, cell, nid,
    * cos) underlying [[knnGraph]] and [[triangleStats]]: within-cell
    * pair scoring (Σ|cell|², never n²) + a per-source-vector top-k
    * window with the engine-portable (cos desc, nid) total order.
    * Materialized — every consumer reads the edge list at least twice
    * (reversal for the mutual check, stats, wedge joins).
    */
  private[graft] def knnEdges(cells: DataFrame, k: Int): DataFrame = {
    val nb = cells.select(col("cell"), col("cid").as("nid"),
      col("ce").as("ne"), col("cn").as("nn"))
    val scored = cells.select(col("cell"), col("cid"), col("ce"), col("cn"))
      .join(nb, Seq("cell"))
      .filter(col("cid") =!= col("nid"))
      .select(col("cid"), col("cell"), col("nid"),
        round(dot(col("ce"), col("ne")) / (col("cn") * col("nn")), 6)
          .as("cos"))
    // bounded-heap top-k (the [[topKAggregated]] shape), NOT a
    // row_number window (r19): the window form sorts and shuffles the
    // FULL within-cell pair mass (~corpus × perCell rows) to keep k
    // per node, while the aggregator partial-aggregates map-side so
    // the exchange carries O(nodes × k). Row-identical: TopKAgg's
    // (cos desc, nid asc) ordering is the window's exact contract on
    // pre-rounded scores, and `cell` is functionally dependent on
    // `cid` (one cell per node), so first() is deterministic.
    val topk = udaf(new graft.functions.TopKAgg(k))
    scored.groupBy(col("cid"))
      .agg(first(col("cell")).as("cell"),
        topk(col("cos"), col("nid")).as("top"))
      .select(col("cid"), col("cell"), explode(col("top")).as("t"))
      .select(col("cid"), col("cell"), col("t._2").as("nid"),
        col("t._1").as("cos"))
      .materialized
  }

  /** Session-lifetime memo of the cell-local kNN EDGE relation — the
    * [[graft.ext.Dedup.cachedPairs]] analog for the graph family:
    * triangle stats (x104), PageRank (x105), and label agreement
    * (x111) all consume the same edge artifact a pipeline would
    * materialize once, while x94 ([[knnGraph]]) keeps building its
    * edges live so the edge-generation cost stays measured. Keyed by
    * both inputs' [[CorpusId]]s + k; values are n·k-row
    * localCheckpoints.
    */
  private val edgeMemo = new Memo[DataFrame]

  private[graft] def edgeCacheSize: Int = edgeMemo.size

  /** Invalidation hook, the [[invalidateTrainedCentroids]] analog. */
  def invalidateKnnEdges(): Unit = edgeMemo.clear()

  def cachedKnnEdges(emb: DataFrame, centroids: DataFrame,
      k: Int): DataFrame =
    // knnEdges is already materialized; the memo keeps the checkpoint
    edgeMemo(CorpusId.of(Seq(emb, centroids)), s"edges:$k")(
      knnEdges(assignCells(emb, centroidRelation(centroids)), k))

  /** Approximate k-nearest-neighbor graph, built within trained k-means
    * cells (the SemDeDup locality assumption: near neighbors share a
    * cell), with per-node degree / mutual-degree / mean-similarity
    * stats — the input ledger for graph-based corpus work (label
    * propagation, graph dedup, connectivity audits). An edge (i → j)
    * means j is among i's top-k same-cell neighbors; `mutual_degree`
    * counts neighbors that also list i back — the symmetric core a
    * mutual-kNN clustering would keep.
    *
    * Scale shape: the pair join is cell-local (Σ|cell|² like [[
    * semanticDedup]], never n²); the per-node top-k window partitions on
    * the source vector. The kNN edge list is materialized once (it feeds
    * both the stats rollup and its own reversal for the mutual check —
    * without the cut the Σ|cell|² scoring would run twice). Cosines are
    * 6-dp rounded with (cos desc, id) total order — engine-portable.
    *
    * Parameter honesty: the cell-locality cut DROPS cross-cell edges —
    * a vector's true nearest neighbor in another cell never appears
    * (the SemDeDup trade, stated in that paper). The drop rate falls
    * as centroids are trained better and rises with k relative to cell
    * size; x94's fixture (8 cells, k = 5 over 500 vectors) is demo
    * scale — at 10⁹ vectors size the codebook so |cell| ≈ 10³–10⁴
    * (k_centroids ≈ n/10³) and the Σ|cell|² pair mass stays ~n·10³–10⁴
    * while boundary loss stays the only approximation.
    */
  def knnGraph(emb: DataFrame, centroids: DataFrame, k: Int): DataFrame =
    knnGraphAssigned(assignCells(emb, centroidRelation(centroids)), k)

  /** [[knnGraph]] over a PRE-ASSIGNED (cid, ce, cn, cell) relation —
    * the seam the composed PRODUCTION profile plugs into: x128 feeds it
    * [[assignCellsCoarse]] over [[trainCentroidsSampled]] centroids (the
    * 3.1× path measured in SCALE.md round 11), while x94 keeps the exact
    * flat-argmax route through [[knnGraph]]. Identical per-node stats
    * semantics either way; only the cell partition differs.
    */
  private[graft] def knnGraphAssigned(cells: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 12)
    val knn = knnEdges(cells, k)
    val rev = knn.select(col("nid").as("cid"), col("cid").as("nid"))
    val mut = knn.join(rev, Seq("cid", "nid"), "left_semi")
      .groupBy(col("cid")).agg(count(lit(1)).as("mutual_degree"))
    val stats = knn.groupBy(col("cid"), col("cell"))
      .agg(count(lit(1)).as("degree"),
        round(sum(col("cos").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_cos"))
      .join(mut, Seq("cid"), "left")
    // left-join the stats back onto the full cell-assignment relation:
    // a vector alone in its cell produces no edges, but "per-node stats"
    // must still carry it — degree/mutual_degree 0, mean_cos null —
    // or downstream graph consumers see an incomplete node set
    cells.select(col("cid"), col("cell"))
      .join(stats.drop("cell"), Seq("cid"), "left")
      .select(col("cid").as("vec_id"), col("cell"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("mutual_degree"), lit(0L)).as("mutual_degree"),
        col("mean_cos"))
  }

  /** One row per UNDIRECTED mutual kNN edge (u < v by id), materialized
    * — the shared base of [[triangleStats]] and [[pageRank]]. */
  private[ext] def mutualEdgesFrom(knn: DataFrame): DataFrame = {
    val rev = knn.select(col("nid").as("cid"), col("cid").as("nid"))
    knn.join(rev, Seq("cid", "nid"), "left_semi")
      .filter(col("cid") < col("nid"))
      .select(col("cell"), col("cid").as("u"), col("nid").as("v"))
      .materialized
  }

  /** Per-cell triangle count + global clustering coefficient of the
    * MUTUAL cell-local kNN graph — the graph-health audit for the x94
    * edge relation (a healthy semantic neighborhood graph is locally
    * clustered; coefficient ≈ 0 flags a hub-and-spoke or noise graph,
    * where graph-based dedup/label propagation would wire unrelated
    * docs together). Triangles are counted by the degree-ordered
    * node-iterator (Suri & Vassilvitskii, "Counting Triangles and the
    * Curse of the Last Reducer", WWW'11): orient every undirected edge
    * from its lower (deg, id) endpoint to the higher, generate wedges
    * only at each edge's LOW endpoint, and close them against the
    * undirected edge list — every triangle has exactly one node whose
    * two triangle edges both point out (its (deg, id)-minimum), so each
    * is counted once, and the wedge mass is Σ out-deg² with out-degrees
    * capped at O(√m) by the orientation — the skew-proof bound that
    * names the paper.
    *
    * Output per cell: nodes/edges of the mutual graph, wedge count
    * Σ C(deg, 2), triangle count, and clustering = 3·tri/wedges (null
    * when the cell has no wedge). Cells whose mutual graph is empty do
    * not appear (no nodes with a mutual edge).
    *
    * Scale shape: rides [[knnEdges]] (Σ|cell|² pair scoring, top-k
    * window); past it every relation is edge-bounded (≤ n·k rows), the
    * wedge join is out-degree-bounded by orientation, and the closure
    * is a left-semi equi-join on (cell, a, b). Output is
    * cell-cardinality.
    */
  def triangleStats(emb: DataFrame, centroids: DataFrame,
      k: Int): DataFrame = {
    val mutual = mutualEdgesFrom(cachedKnnEdges(emb, centroids, k))
    val deg = mutual
      .select(col("cell"), explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("cell"), col("n")).agg(count(lit(1)).as("deg"))
      .materialized
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = mutual
      .join(deg.select(col("cell"), col("n").as("u"), col("deg").as("du")),
        Seq("cell", "u"))
      .join(deg.select(col("cell"), col("n").as("v"), col("deg").as("dv")),
        Seq("cell", "v"))
      .select(col("cell"),
        when(lowFirst, col("u")).otherwise(col("v")).as("lo"),
        when(lowFirst, col("v")).otherwise(col("u")).as("hi"))
    // wedges at the low endpoint; o1.hi < o2.hi normalizes (a, b) by id
    val wedgesAtLow = oriented.as("o1")
      .join(oriented.as("o2"), Seq("cell", "lo"))
      .filter(col("o1.hi") < col("o2.hi"))
      .select(col("cell"), col("o1.hi").as("u"), col("o2.hi").as("v"))
    val tri = wedgesAtLow
      .join(mutual, Seq("cell", "u", "v"), "left_semi")
      .groupBy(col("cell")).agg(count(lit(1)).as("n_triangles"))
    val rollup = deg.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_nodes"),
        // Σ deg·(deg−1) is even by construction; halve AFTER the sum so
        // both engines stay in exact integer arithmetic until one final
        // division (Spark's `/` on longs is double division)
        (sum(col("deg") * (col("deg") - 1)) / 2).cast("long")
          .as("n_wedges"))
    val edges = mutual.groupBy(col("cell")).agg(count(lit(1)).as("n_edges"))
    rollup.join(edges, Seq("cell"))
      .join(tri, Seq("cell"), "left")
      .select(col("cell"), col("n_nodes"), col("n_edges"), col("n_wedges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("n_wedges") === 0, lit(null).cast(DoubleType))
          .otherwise(round(lit(3.0) * coalesce(col("n_triangles"), lit(0L)) /
            col("n_wedges"), 6)).as("clustering"))
  }

  /** PageRank centrality over the mutual cell-local kNN graph (Page,
    * Brin, Motwani & Winograd 1999), a FIXED `iters` power-method
    * iterations — graph centrality as a data-selection signal: a highly
    * central document in the semantic graph is prototypical of its
    * region, a low-rank one is peripheral/novel (both are selection
    * dials, cf. the x74 curriculum and x53 DSIR scoring). The graph is
    * undirected (each mutual edge feeds both directions) and every node
    * in it has degree ≥ 1, so there are no dangling nodes and the
    * damped update is the textbook one on the RELATIVE rank r = pr·N
    * (mean 1, so no 1/N init and no node-count driver action):
    * r' = (1−d) + d·Σ_in r/deg.
    *
    * Determinism contract: EXACT INTEGER arithmetic end-to-end — rank
    * in 1e-12 units as BIGINT (init 10^12), damping as the rational
    * `dampingPct`/100, and every division a round-half-up integral
    * divide ((2a+b) div 2b). Doubles never appear, so both engines (and
    * any partitioning) produce bit-identical ranks by construction;
    * `iters` is a literal the oracle unrolls (the x75 pattern). The
    * first draft rounded doubles at 12 dp, the same quantum as the
    * decimal contribution sums — so `0.85·s` landed EXACTLY on a 12-dp
    * half-boundary for ~5% of nodes and Spark's BigDecimal HALF_UP vs
    * DuckDB's scaled-double round disagreed on the ulp; integer units
    * remove the boundary class entirely instead of shrinking it.
    * Output: top `topK` nodes by (rank_e12 desc, id), with cell and
    * degree — k-bounded via TakeOrderedAndProject.
    *
    * Scale shape: rides [[mutualEdges]] (Σ|cell|² scoring, top-k
    * window); each iteration is one equi-join of the directed edge list
    * (2·|mutual| rows) against the ≤ n-row rank relation plus a keyed
    * agg — the standard distributed PR round, `iters` passes total, no
    * driver state. For iterative-convergence PR swap the fixed loop for
    * the x17 Observation pattern; fixed-k is the reproducible-artifact
    * form a selection pipeline wants.
    */
  def pageRank(emb: DataFrame, centroids: DataFrame, k: Int,
      iters: Int = 3, dampingPct: Int = 85,
      topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(iters >= 1 && dampingPct > 0 && dampingPct < 100)
    val dec0 = DecimalType(38, 0)
    val mutual = mutualEdgesFrom(cachedKnnEdges(emb, centroids, k))
    // directed both ways; out-degree = undirected degree
    val edges = mutual.select(col("u").as("src"), col("v").as("dst"))
      .union(mutual.select(col("v"), col("u")))
      .materialized
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .materialized
    var pr = deg.select(col("src").as("n"), lit(1000000000000L).as("ru"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(pr.withColumnRenamed("n", "src"), Seq("src"))
        .join(deg, Seq("src"))
        // round-half-up(ru / deg) in exact integers
        .select(col("dst"), expr("(2 * ru + deg) div (2 * deg)").as("cu"))
        .groupBy(col("dst"))
        .agg(sum(col("cu").cast(dec0)).as("insum"))
      pr = deg.select(col("src").as("n"))
        .join(contrib.withColumnRenamed("dst", "n"), Seq("n"), "left")
        .select(col("n"),
          (lit((100L - dampingPct) * 10000000000L) +
            coalesce( // round-half-up(dampingPct · insum / 100)
              expr(s"(2 * $dampingPct * insum + 100) div 200"), lit(0L)))
            .as("ru"))
        .materialized
    }
    val nodeCell = mutual.select(col("cell"), col("u").as("n"))
      .union(mutual.select(col("cell"), col("v")))
      .distinct()
    pr.join(nodeCell, Seq("n"))
      .join(deg.withColumnRenamed("src", "n"), Seq("n"))
      .select(col("n").as("vec_id"), col("cell"), col("deg"),
        col("ru").as("rank_e12"))
      .orderBy(col("rank_e12").desc, col("vec_id"))
      .limit(topK)
  }

  /** Intra-label embedding dispersion WITHOUT a pairwise join: the mean
    * pairwise cosine inside each label via the normalized-sum identity
    * Σ_{i≠j} uᵢ·uⱼ = ‖Σᵢuᵢ‖² − Σᵢ‖uᵢ‖² on unit vectors — the class-
    * cohesion ledger (a label whose members barely cohere is mislabeled
    * or heterogeneous; read next to x28's BETWEEN-label centroid
    * matrix). O(rows·dim) — two keyed partial aggregations, no n² step
    * at any corpus size.
    *
    * Determinism: normalized coordinates are quantized to 1e-6 as
    * BIGINTs (the x28/k-means contract), so both Σu (per-dim, ≤ n·10⁶)
    * and Σ‖u‖² (per-row fold, ≤ dim·10¹²) are EXACT integer sums;
    * squaring the per-dim sums runs in DECIMAL (they can pass 2⁶³ at
    * corpus scale). The only floating-point step is the final division,
    * identical literal order in the oracle.
    */
  def labelDispersion(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val u = emb.select(col("label"),
      transform(col("embedding"), x =>
        round(x.cast(DoubleType) / norm(col("embedding")) * 1e6, 0)
          .cast(LongType)).as("q"))
    val perRow = u.select(col("label"),
      aggregate(col("q"), lit(0L), (acc, v) => acc + v * v).as("q2"),
      col("q"))
    // sq2 accumulates in DECIMAL(38,0): per-row q2 reaches dim·10¹²
    // (≈6.4e13 at dim 64), so a LongType sum would wrap past 2^63 at
    // ~1.4e5 rows per label — exactly corpus scale — while the DuckDB
    // oracle sums in HUGEINT. Decimal keeps the integer arithmetic exact
    // on both engines.
    val perLabel = perRow.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("q2").cast(DecimalType(38, 0))).as("sq2"))
    val dimSums = perRow
      .select(col("label"), posexplode(col("q")).as(Seq("d", "qd")))
      .groupBy(col("label"), col("d"))
      .agg(sum(col("qd")).as("s"))
      .groupBy(col("label"))
      .agg(sum(col("s").cast(DecimalType(38, 0)) * col("s")).as("s2"))
    perLabel.join(dimSums, "label")
      .select(col("label"), col("n"),
        when(col("n") < 2, lit(null).cast(DoubleType))
          .otherwise(round(
            (col("s2").cast(DoubleType) - col("sq2").cast(DoubleType)) /
              (col("n") * (col("n") - 1)).cast(DoubleType) / 1e12, 6))
          .as("mean_pair_cos"))
  }

  /** Int8 quantization-error audit: the reconstruction cosine between
    * each vector and its dequantized x25 form (max-abs scale, 127
    * levels) rolled up to one row — n, mean/min cosine, and the count
    * below 0.999. The price sheet for the 4× storage cut, the same role
    * x71 plays for dimension truncation and x35 for IVF probing: read
    * it before switching the 100 TB vector store to int8 at rest.
    *
    * Zero shuffle until the 1-row rollup (quantize, dequantize, and the
    * cosine are per-row folds). Determinism: codes replicate x25's
    * round(x/s·127) exactly; the dequantized dot/norms are ordered
    * double folds ([[dotHof]] ≡ list_dot_product); cosines 6-dp
    * rounded, mean = round-then-DECIMAL. An all-zero vector
    * reconstructs exactly — its undefined cosine is pinned to 1.
    */
  def int8QuantError(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 12)
    val scaled = emb.select(col("embedding"),
      array_max(transform(col("embedding"),
        x => abs(x.cast(DoubleType)))).as("s0"))
      .withColumn("ss",
        when(col("s0") === 0.0, lit(1.0)).otherwise(col("s0")))
    val deq = scaled
      .withColumn("codes", transform(col("embedding"),
        x => round(x.cast(DoubleType) / col("ss") * 127, 0).cast("int")))
      .withColumn("deq", transform(col("codes"),
        c => c.cast(DoubleType) * col("ss") / 127))
    val cosv = deq.select(
      when(norm(col("embedding")) * sqrt(dotHof(col("deq"), col("deq")))
          === 0.0, lit(1.0))
        .otherwise(round(dotHof(col("embedding"), col("deq")) /
          (norm(col("embedding")) *
            sqrt(dotHof(col("deq"), col("deq")))), 6)).as("cos"))
    cosv.agg(count(lit(1)).as("n"),
      round(sum(col("cos").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
        .as("mean_cos"),
      min(col("cos")).as("min_cos"),
      sum(when(col("cos") < 0.999, 1L).otherwise(0L)).as("n_below_999"))
  }

  /** Rank-discount table of the nDCG metric, as 6-dp plan-time
    * constants: `disc(r) = round(1/log2(r+1), 6)` and its prefix sums
    * (the ideal-DCG ladder). Precomputed in ONE place and embedded as
    * literals in both the Spark plan and the DuckDB oracle, so no
    * cross-engine transcendental-function rounding can touch the
    * metric — the same shared-literal discipline as the hyperplane
    * sketch's plane weights.
    */
  def dcgDiscounts(k: Int): Seq[(BigDecimal, BigDecimal)] = {
    val disc = (1 to k).map { r =>
      BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    disc.zip(disc.scanLeft(BigDecimal(0))(_ + _).tail)
  }

  /** Retrieval-quality evaluation: nDCG@k and reciprocal rank of the
    * brute-force cosine ranking (the x10 contract) under binary
    * label-match relevance — the eval harness a retrieval/embedding
    * change ships with (did the new index/quantization/truncation hurt
    * ranking QUALITY, not just recall? x35/x71 measure set overlap;
    * this weights the ranking by position). Per query: hits in the
    * top-k, `nDCG@k = DCG/IDCG` with the [[dcgDiscounts]] ladder (DCG
    * addends are 6-dp literals summed as DECIMAL — bit-portable), and
    * `rr = 1/rank` of the first relevant hit (0 when none).
    *
    * Scale shape: rides [[topKBrute]]'s broadcast-queries scan (swap in
    * [[topKIvfIndexed]]'s probe for the indexed path — same output
    * contract); everything downstream of the top-k is |queries|×k rows.
    * The per-label totals relation (for IDCG's `min(k, R)` cap) is
    * labels-bounded and broadcast.
    */
  def retrievalEval(corpus: DataFrame, queries: DataFrame,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 12)
    val ladder = dcgDiscounts(k)
    val discArr = array(ladder.map(d => lit(d._1.toDouble)): _*)
    val cumArr = array(ladder.map(d => lit(d._2.toDouble)): _*)
    val labels = corpus.select(col("vec_id"), col("label"))
    val top = topKBrute(corpus, queries, k)
      .join(labels.select(col("vec_id").as("cid"),
        col("label").as("clabel")), "cid")
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        col("label").as("qlabel"))), "qid")
      .select(col("qid"), col("qlabel"), col("rank"),
        when(col("clabel") === col("qlabel"), 1).otherwise(0).as("rel"))
    val perQ = top
      .groupBy(col("qid"), col("qlabel"))
      .agg(
        sum(col("rel")).as("n_rel_topk"),
        sum(when(col("rel") === 1,
          element_at(discArr, col("rank")).cast(dec))
          .otherwise(lit(0).cast(dec))).as("dcg"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"))
    // R = same-label corpus members minus the query itself; IDCG caps
    // the ideal ladder at min(k, R)
    val relTotals = corpus.groupBy(col("label"))
      .agg(count(lit(1)).as("nlab"))
      .select(col("label").as("qlabel"), (col("nlab") - 1).as("r_total"))
    perQ.join(broadcast(relTotals), "qlabel")
      .select(col("qid"), col("qlabel").as("label"), col("n_rel_topk"),
        when(col("r_total") <= 0, lit(0.0)).otherwise(
          round(col("dcg").cast(DoubleType) /
            element_at(cumArr,
              least(lit(k), col("r_total")).cast("int")), 6))
          .as("ndcg"),
        coalesce(round(lit(1.0) / col("first_rel"), 6), lit(0.0))
          .as("rr"))
  }

  /** kNN label-agreement audit — the confident-learning-style mislabel
    * detector (cf. Northcutt, Jiang & Chuang, JAIR'21): for each
    * labeled vector, the fraction of its cell-local top-`k` cosine
    * neighbors sharing its label. A vector whose neighborhood
    * overwhelmingly disagrees (`suspect` = agreement < 0.5) is either
    * mislabeled or sits on a genuine class boundary — the triage list a
    * labeling-QA pass reviews before the labels feed training or the
    * x55/x95 per-label machinery. Pairs with [[labelDispersion]]: that
    * audits classes in aggregate, this names the individual rows.
    *
    * Scale shape: rides [[knnEdges]] (Σ|cell|² cell-local scoring,
    * top-k window); the label joins and the per-vector agreement agg
    * are all ≤ n·k rows. Output is one row per vector that has
    * neighbors (vectors alone in their cell have no evidence and are
    * excluded — documented, mirrors the knnGraph degree-0 contract
    * pre-advisor-fix but here absence IS the semantics: no neighbors,
    * no agreement estimate).
    */
  def labelAgreement(emb: DataFrame, centroids: DataFrame,
      k: Int): DataFrame = {
    val edges = cachedKnnEdges(emb, centroids, k)
    val lab = emb.select(col("vec_id"), col("label"))
    edges
      .join(lab.select(col("vec_id").as("cid"), col("label").as("l_self")),
        Seq("cid"))
      .join(lab.select(col("vec_id").as("nid"), col("label").as("l_nbr")),
        Seq("nid"))
      .groupBy(col("cid"), col("l_self"))
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("l_nbr") === col("l_self"), 1L).otherwise(0L))
          .as("n_same"))
      .select(col("cid").as("vec_id"), col("l_self").as("label"),
        col("n_nbrs"), col("n_same"),
        round(col("n_same").cast(DoubleType) / col("n_nbrs"), 6)
          .as("agreement"))
      .withColumn("suspect", col("agreement") < 0.5)
  }

  /** Greedy k-center (farthest-point) coreset selection — Gonzalez
    * 1985, "Clustering to minimize the maximum intercluster distance",
    * the 2-approximation to the k-center cover. The diversity
    * complement of x39's SemDeDup: instead of dropping near-duplicates,
    * pick the k most SPREAD-OUT exemplars (active-learning seed sets,
    * labeling budgets, eval panels, coreset distillation).
    *
    * Deterministic contract: seed = lowest vec_id; each step adds the
    * vector minimizing its max 6-dp-rounded cosine to the selected set
    * (= farthest in cosine distance), ties broken by lowest vec_id.
    * Output (sel_rank 1..k, vec_id, cov_cos): cov_cos = the winner's
    * max cosine to the PRIOR selection (null for the seed) — the
    * non-decreasing coverage curve a diversity-budget decision reads
    * (stop when cov_cos crosses "close enough to something selected").
    *
    * Scale shape: k−1 passes, each ONE map over the corpus comparing
    * against the newest center as a broadcast literal (constant-folded
    * norm) + a TakeOrdered(1) (per-partition top-1 heaps — no sort, 1
    * row per partition shuffles) + a checkpoint of the running
    * (vec_id, embedding, mc) relation. Driver state = the selected
    * vectors themselves: k × dim floats, dim-table-class, the same
    * bound as the trainCentroids codebook. O(k·n) total — the exact
    * greedy algorithm, no approximation beyond 6-dp quantization.
    */
  def kCenterCoreset(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val seed = base.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].head()
    def cosTo(vec: Seq[Float]): Column = {
      val c = typedlit(vec)
      round(dot(col("embedding"), c) / (col("nrm") * sqrt(dot(c, c))), 6)
    }
    val sel = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, seed._1, None))
    var mc = base.filter(col("vec_id") =!= seed._1)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        cosTo(seed._2).as("mc"))
      .materialized
    var r = 2
    var exhausted = false
    while (r <= k && !exhausted) {
      val next = mc.orderBy(col("mc").asc, col("vec_id").asc).limit(1)
        .select(col("vec_id"), col("embedding"), col("mc"))
        .as[(Long, Seq[Float], Double)].collect().headOption
      next match {
        case None => exhausted = true // k > corpus size: stop early
        case Some((vid, vec, cov)) =>
          sel += ((r, vid, Some(cov)))
          if (r < k)
            mc = mc.filter(col("vec_id") =!= vid)
              .select(col("vec_id"), col("embedding"), col("nrm"),
                greatest(col("mc"), cosTo(vec)).as("mc"))
              .materialized
          r += 1
      }
    }
    sel.toSeq.toDF("sel_rank", "vec_id", "cov_cos")
  }
}
