package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.{AtRest, CorpusId, Memo}
import graft.engine.Checkpoints.MaterializeOps
import graft.ext.TextAnalysis._

/** Deduplication operators for LLM training-data pipelines: exact
  * (hash-groupBy), brute-force n-gram Jaccard (the small-scale oracle
  * path), and MinHash+LSH banding (the 100 TB path). SimHash lives in
  * [[TextAnalysis.simhash]]; embedding near-dup in [[Similarity]].
  *
  * Scale design: exact dedup is one hash-shuffle on a 16-byte key.
  * MinHash-LSH is linear — signatures are per-row expressions (no UDF, no
  * shuffle), banding explodes each doc into `bands` rows, and the only
  * shuffles are the band-bucket self-join (keys are 8-byte hashes, heavily
  * pruned) and the final pair-dedup. Candidate pairs are then verified with
  * the exact Jaccard, so LSH parameters only affect recall probability,
  * never the *meaning* of the output — with b=64, r=2 the miss probability
  * at j=0.5 is (1-0.25)^64 ≈ 1e-8, so output equals brute force w.h.p.
  */
object Dedup {

  /** Exact dedup: group by canonical fingerprint, keep the smallest doc_id
    * as the cluster representative. One shuffle on the md5 key; at 100 TB
    * the payload crossing the wire is (fingerprint, id) pairs only.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Shingle-set prep shared by the pairwise paths. Two projections on
    * purpose: the token array must be a bound column before the shingle
    * lambda touches it, or the tokenizer re-runs per token
    * (TextAnalysis.shinglesFromTokens).
    */
  def shingled(docs: DataFrame, n: Int): DataFrame =
    // r20: spread narrow (single-row-group) scans before the tokenizer
    // — the corpus shingle stage was measured serializing on 1 task
    // (graft.engine.Spread); no-op when the scan already parallelizes
    graft.engine.Spread.cpuHeavy(docs)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      // the empty-set filter tests the TOKEN count, not size(sg) > 0,
      // deliberately: the two are equivalent (shinglesFromTokens is empty
      // iff there are fewer than n tokens), but a predicate on sg gets
      // pushed below the projection and re-inlines the whole interpreted
      // zip_with shingle chain into the Filter (higher-order functions
      // don't codegen, so no subexpression elimination saves it) —
      // measured 3× the corpus shingle cost on every consumer. The
      // token-count form pushes down as one extra split — cheap.
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), shinglesFromTokens(col("ws"), n).as("sg"))

  /** Per-document n-gram novelty: what fraction of a document's distinct
    * word shingles already appear in an EARLIER document (lower doc_id) —
    * the "how much of this page is re-crawled boilerplate" signal
    * (RefinedWeb/C4 measure duplicate-fraction per page before deciding
    * doc-level vs span-level removal; x49/x50 are the span-level arm,
    * this is the per-doc prioritizer). Ref behavior class: corpus
    * statistics over the documents table (SURVEY §2.5).
    *
    * Scale: shingle → min(doc_id) is one partial-aggregatable shuffle on
    * a 16-byte md5 shingle fingerprint (never the string — same count
    * contract as [[sourceOverlap]]: a 128-bit collision could in theory
    * alias two shingles, which is the documented trade for constant-width
    * keys). The join-back deliberately does NOT happen at shingle mass:
    * per shingle exactly ONE doc (the min) is "first", so
    * n_seen = n_shingles − #(shingles this doc is first for) — the
    * second relation aggregates down to DOC cardinality before any join,
    * and per-doc n_shingles is just `size(sg)` read off the shingle
    * array (no second explode, no per-shingle md5 on that leg). Both
    * sides of the final join carry two longs per doc. No pairwise step
    * anywhere — cost is linear in total shingle mass.
    */
  def noveltyRate(docs: DataFrame, n: Int): DataFrame = {
    val sized = shingled(docs, n)
      .select(col("doc_id"), size(col("sg")).cast("long").as("n_shingles"))
    val firstCounts = shingled(docs, n)
      .select(col("doc_id"), explode(col("sg")).as("sg"))
      .select(col("doc_id"), unhex(md5(col("sg"))).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("fd"))
      .groupBy(col("fd")).agg(count(lit(1)).as("n_first"))
    sized.join(firstCounts, sized("doc_id") === firstCounts("fd"), "left")
      .select(col("doc_id"), col("n_shingles"),
        (col("n_shingles") - coalesce(col("n_first"), lit(0L))).as("n_seen"))
      .withColumn("dup_rate",
        round(col("n_seen").cast(DoubleType) / col("n_shingles"), 6))
  }

  /** Normalization-sensitivity report: per source, how many distinct
    * duplicate-groups exist under the canonical fingerprint
    * ([[TextAnalysis.fingerprint]]: lowercase + whitespace collapse) vs
    * an AGGRESSIVE key that also folds every non-alphanumeric run to one
    * space — `n_merged` is how many extra groups punctuation-blind dedup
    * would merge. Prices the normalization decision BEFORE a corpus-wide
    * rewrite. One pass, two distinct-key counts per source (Spark plans
    * the multi-distinct via Expand — 2× the mapper rows, still one
    * shuffle, no join).
    */
  def normalizationDelta(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        fingerprint(col("text")).as("k_exact"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
          .as("k_norm"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("k_exact")).as("n_exact_keys"),
        countDistinct(col("k_norm")).as("n_norm_keys"))
      .withColumn("n_merged", col("n_exact_keys") - col("n_norm_keys"))

  /** Cross-source overlap matrix: for every pair of provenance buckets,
    * how many distinct word n-gram shingles they share — the
    * corpus-planning view (which sources duplicate each other enough
    * that near-dedup across them is worth the shuffle, which eval
    * sources are contaminated by which train sources). Same inverted
    * shape as [[jaccardPairsIndex]] lifted from doc pairs to source
    * pairs: distinct (source, shingle) → equi self-join on the shingle
    * key → count per pair. Never materializes doc×doc pairs, and the
    * pair fan-out per shingle is bounded by |sources|² — sources are a
    * dim-class column, so at 100 TB the only corpus-scale shuffle is
    * the per-shingle source-set aggregation.
    *
    * Shape: ONE pass — `collect_set(source)` per shingle (partial sets
    * merge map-side; the set is dim-bounded), then the pair expansion is
    * a per-row array expression over the sorted set, and the final
    * count is a |sources|²-key aggregate. The self-join formulation
    * planned the corpus-scale distinct TWICE (Spark does not reuse the
    * subplan across self-join branches before AQE kicks in) and pushed
    * it through a join; this computes it once and joins nothing.
    *
    * The one corpus-scale shuffle is keyed on the shingle's 16-byte md5
    * fingerprint, not the raw n-gram string — the [[jaccardPairsIndexHashed]]
    * lesson applied to the aggregate: at sf0.1 the map-side partial sets
    * hide the difference, but at 100 TB most shingles are partition-unique
    * and the exchange carries nearly every occurrence, so fixed-width
    * 16-byte keys (vs ~25-byte-and-unbounded strings) cut the wire volume
    * and compare as two longs. Unlike the candidate paths there is no
    * exact-verify stage to absorb collisions, so the fingerprint IS the
    * contract: n_shared counts distinct shared *fingerprints*, documented
    * as such, with 128 bits keeping the expected collision count ~1e-13
    * even at 10^13 distinct shingles (birthday bound) — and md5 (not
    * xxhash64) so the DuckDB oracle replicates the key bit-exactly.
    */
  def sourceOverlap(docs: DataFrame, n: Int): DataFrame = {
    val srcsPerShingle = docs
      .select(col("source"), tokens(col("text")).as("ws"))
      // token-count filter, not size(sg) — see [[shingled]]
      .filter(size(col("ws")) >= n)
      .select(col("source"), explode(shinglesFromTokens(col("ws"), n)).as("sg"))
      .groupBy(unhex(md5(col("sg"))).as("h"))
      .agg(collect_set(col("source")).as("srcs"))
    // ordered pairs via two chained explodes + sa < sb — NOT a nested
    // transform/slice/flatten lambda chain: higher-order functions are
    // interpreted (no codegen, per-element closure dispatch and array
    // copies per prefix slice), measured 0.7-1.3 s over just 27 k
    // aggregated rows at sf0.1 where the explode form runs in the same
    // codegen stage as the aggregate read-out. Fan-out is |srcs|² per
    // shingle before the filter — bounded by the dim-class source column,
    // so the extra rows are dim², not corpus-scale.
    srcsPerShingle
      .select(explode(col("srcs")).as("sa"), col("srcs"))
      .select(col("sa"), explode(col("srcs")).as("sb"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_shared"))
  }

  private[graft] val MinhashMod = 1000000007L

  /** The `k` universal-hash coefficient pairs behind
    * [[sourceMinhashMatrix]] — plain deterministic integer arithmetic,
    * embedded as LITERALS in both the Spark plan and the DuckDB oracle
    * (the winnow literal-row pattern), so the generator never needs
    * cross-engine replication.
    */
  private[graft] def minhashCoeffs(k: Int): IndexedSeq[(Long, Long)] =
    (1 to k).map { i =>
      val a = (2654435761L * i + 1013904223L) % (MinhashMod - 1) + 1
      val b = (1103515245L * i + 12345L) % MinhashMod
      (a, b)
    }

  /** Per-SOURCE MinHash similarity matrix — the linear sketch twin of
    * [[sourceOverlap]]: estimated shingle-set Jaccard between every
    * source pair from `k` per-source min-hash slots (Broder '97,
    * min-wise estimator: P[min_a,i = min_b,i] = J(A,B), ĵ = slot
    * agreement / k). Where x37 shuffles the full distinct shingle
    * universe to collect per-shingle source sets, this shuffles ONLY
    * (source × k) partial-aggregated minima — at 100 TB the map side
    * reduces each partition to ≤ |sources|·k rows before the exchange,
    * so corpus size never touches the shuffle. No distinct pass either:
    * min over the hashed-shingle MULTISET equals min over the set
    * (duplicates cannot change a minimum), so the set semantics
    * Broder's estimator needs come for free and the plan is one
    * narrow scan + one partial-aggregated exchange — the first cut's
    * corpus-wide distinct() shuffle was the measured 100× cost (18.0 s
    * → SCALE.md round 12 re-measure) for zero semantic content. The
    * sketch domain is the mod-M hashed shingle universe (md5-derived
    * 60-bit values, slot values by k literal universal hashes
    * (a_i·x + b_i) mod M) — the documented count contract, all integer
    * arithmetic, so the oracle replicates it bit for bit (its DISTINCT
    * is equally vacuous under min).
    */
  def sourceMinhashMatrix(docs: DataFrame, n: Int = 3,
      k: Int = 64): DataFrame = {
    val coeffs = minhashCoeffs(k)
    val keyed = docs
      .select(col("source"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("source"),
        explode(shinglesFromTokens(col("ws"), n)).as("sg"))
      .select(col("source"),
        (graft.ext.TextAnalysis.hash60(col("sg")) % MinhashMod).as("x"))
    val minExprs = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("x") + lit(b)) % MinhashMod).as(s"m$i")
    }
    val mins = keyed.groupBy(col("source"))
      .agg(minExprs.head, minExprs.tail: _*)
    val la = mins.select(col("source").as("sa") +:
      (0 until k).map(i => col(s"m$i").as(s"a$i")): _*)
    val lb = mins.select(col("source").as("sb") +:
      (0 until k).map(i => col(s"m$i").as(s"b$i")): _*)
    val agree = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    // dim²-bounded pair expansion of a ≤|sources|-row relation — the
    // broadcast-crossJoin class every other dim-matrix query uses
    la.crossJoin(broadcast(lb))
      .filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb"),
        round(agree.cast(DoubleType) / k, 6).as("j_hat"))
  }

  /** Substring-level near-dup pairs: documents sharing ≥ `minShared`
    * winnowing fingerprints ([[graft.functions.RollingWinnow]], the MOSS
    * scheme) — the character-level complement of the word-shingle
    * Jaccard paths, catching shared boilerplate/quotation runs that
    * word-level n-grams dilute. Any shared substring of ≥ k+w-1 chars
    * contributes a shared fingerprint, so `minShared` is a direct knob
    * on the shared-substring mass required.
    *
    * Scale shape = the x06 inverted index with 8-byte keys: fingerprints
    * per row from ONE codegen expression (no shuffle), a self-join
    * keyed on the fingerprint (Σ freq² pair rows — k chars of gram
    * length is the selectivity knob that keeps hot fingerprints rare),
    * and a pair-count aggregate. The (doc_id, fp) relation is
    * checkpointed so both join branches read 16-byte rows instead
    * of re-winnowing the corpus ([[jaccardPairsLsh]]'s pattern).
    *
    * `maxDf` is the skew hatch for corpus-wide boilerplate (a license
    * header in every document is ONE fingerprint with freq = corpus
    * size, and freq² of that is the end of the job): fingerprints whose
    * document frequency exceeds the cap are dropped from the index
    * before the self-join — the winnowing-literature move (ubiquitous
    * grams carry no discriminative signal). A documented approximation:
    * n_shared no longer counts the dropped boilerplate fingerprints, so
    * pairs whose overlap is ONLY boilerplate disappear — which is
    * exactly the pair population the operator exists to ignore. The
    * default (None) stays exact and backs the declared query; SkewSpec
    * proves the capped path collapses the hot fingerprint's freq² rows
    * without touching true heavy-overlap pairs.
    */
  def substringOverlapPairs(docs: DataFrame, k: Int = 16, w: Int = 8,
      minShared: Long = 10, maxDf: Option[Long] = None): DataFrame = {
    val all = docs
      // cheap pushdown-able length filter, same reasoning as x34's
      .filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.RollingWinnow.rolling_winnow(col("text"), k, w)))
          .as("fp"))
      .materialized
    val fps = maxDf match {
      case Some(cap) =>
        // df ≤ cap via a left-semi against the per-fp doc count: one
        // extra shuffle on the SAME 8-byte key the pair join uses, and
        // the semi side is (fp) only — never the corpus rows
        val rare = all.groupBy(col("fp"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap)
          .select(col("fp"))
        all.join(rare, Seq("fp"), "left_semi")
      case None => all
    }
    fps.select(col("fp"), col("doc_id").as("da"))
      .join(fps.select(col("fp"), col("doc_id").as("db")), Seq("fp"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Brute-force all-pairs n-gram Jaccard ≥ threshold. O(n²) pairs — kept
    * as the cross-check oracle for [[jaccardPairsIndex]]; only sane when
    * one side fits in a broadcast. A lossless size-ratio prune
    * (J(A,B) ≤ min|·|/max|·|) cuts the quadratic constant without
    * changing results.
    */
  def jaccardPairsBrute(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sg = shingled(docs, n)
    val a = sg.select(col("doc_id").as("da"), col("sg").as("sga"))
    val b = sg.select(col("doc_id").as("db"), col("sg").as("sgb"))
    a.join(b, col("da") < col("db"))
      .filter(
        least(size(col("sga")), size(col("sgb"))).cast(DoubleType) /
          greatest(size(col("sga")), size(col("sgb"))) >= threshold - 1e-6)
      .select(col("da"), col("db"),
        round(jaccard(col("sga"), col("sgb")), 6).as("j"))
      .filter(col("j") >= threshold)
  }

  /** Exact all-pairs Jaccard via an inverted shingle index — the
    * PPJoin-style formulation that scales: explode (doc, shingle), self-
    * join on the shingle, and the per-pair row count IS |A∩B|; union size
    * follows from the per-doc set sizes. Only pairs sharing ≥1 shingle
    * ever materialize (a pair with |A∩B|=0 cannot pass any threshold>0),
    * so cost is Σ_shingle freq² instead of n² — and every step is a plain
    * shuffle on the shingle/pair key, which distributes at 100 TB where
    * the all-pairs join cannot. Output identical to [[jaccardPairsBrute]].
    */
  def jaccardPairsIndex(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // set sizes ride along the exploded index rows (2 ints per row), so
    // the shingle arrays are computed exactly once and no size join is
    // needed afterwards — the one-shot DAG would otherwise re-shingle the
    // corpus three times (inverted index + both sides of the size join)
    val inv = shingled(docs, n)
      .select(col("doc_id"), size(col("sg")).as("sz"),
        explode(col("sg")).as("sh"))
    val l = inv.select(col("sh"), col("doc_id").as("da"), col("sz").as("sza"))
    val r = inv.select(col("sh"), col("doc_id").as("db"), col("sz").as("szb"))
    l.join(r, Seq("sh"))
      // the size-ratio prune (J ≤ min/max) is lossless and drops most
      // mismatched-length pairs BEFORE the pair-key shuffle + aggregate
      .filter(col("da") < col("db") &&
        least(col("sza"), col("szb")).cast(DoubleType) /
          greatest(col("sza"), col("szb")) >= threshold - 1e-6)
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("inter"),
        first(col("sza")).as("sza"), first(col("szb")).as("szb"))
      .select(col("da"), col("db"),
        round(col("inter").cast(DoubleType) /
          (col("sza") + col("szb") - col("inter")), 6).as("j"))
      .filter(col("j") >= threshold)
  }

  /** [[jaccardPairsIndex]] with 64-bit hashed shingle keys in the
    * inverted index plus an exact set-verify on the candidates. Still
    * EXACT, not probabilistic: equal shingles always hash equal, so the
    * hashed intersection count can only over-count (a cross-doc hash
    * collision inflates it) — the candidate set is a superset of the
    * true qualifying set, and the final `jaccard` on the real shingle
    * arrays decides membership. What changes is the shuffle: the
    * inverted index carries 8-byte keys instead of ~25-byte 3-gram
    * strings, and the quadratic join compares longs, not strings. The
    * shingle relation is checkpointed once and feeds both the index and
    * the (tiny) verify joins.
    */
  def jaccardPairsIndexHashed(docs: DataFrame, n: Int,
      threshold: Double): DataFrame =
    jaccardPairsFromShingled(shingled(docs, n).materialized, threshold)

  /** [[jaccardPairsIndexHashed]] over an already-shingled (and ideally
    * already-materialized) relation — shared so composites that need
    * BOTH the pairs and another view of the same shingles (x89's
    * fidelity audit) shingle the corpus once.
    */
  private[ext] def jaccardPairsFromShingled(sg: DataFrame,
      threshold: Double): DataFrame = {
    val cand = indexCollisions(sg, threshold)
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("inter_hat"),
        first(col("sza")).as("sza"), first(col("szb")).as("szb"))
      // hashed counts over-count only → this keeps a superset; the
      // exact verify below is the decider
      .filter(col("inter_hat").cast(DoubleType) /
        (col("sza") + col("szb") - col("inter_hat")) >= threshold - 1e-6)
      .select(col("da"), col("db"))
    cand
      .join(sg.select(col("doc_id").as("da"), col("sg").as("sga")), "da")
      .join(sg.select(col("doc_id").as("db"), col("sg").as("sgb")), "db")
      .select(col("da"), col("db"),
        round(jaccard(col("sga"), col("sgb")), 6).as("j"))
      .filter(col("j") >= threshold)
  }

  /** MinHash signature as a per-row expression array: for hash i,
    * min over shingles of a universal hash of the shingle's 60-bit md5
    * value. Seeds are fixed literals → deterministic across runs (the
    * exact-verify step makes their choice semantically irrelevant).
    */
  private val MersennePrime31 = graft.functions.MinHashSig.MersennePrime31

  /** Base shingle hashes for MinHash, as a separate column expression:
    * xxhash64 folded into the 31-bit universal-hash space. xxhash64 is
    * engine-private here (the exact-verify step makes hash choice
    * semantically irrelevant), native, and codegen'd. IMPORTANT:
    * materialize as its own column before the signature — inlined into
    * each of the 128 slots it would be recomputed 128× (no CSE across
    * projection elements).
    */
  def shingleHashes(sg: Column): Column =
    transform(sg, s => pmod(xxhash64(s), lit(MersennePrime31)))

  /** Exact repeated-span detection — the substring-level dedup primitive
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499, which removes repeated ≥50-token
    * sequences corpus-wide): every l-token window whose fingerprint
    * occurs more than once in the corpus is a duplicated span; the
    * globally-first occurrence (lexicographic min (doc_id, start)) is
    * the canonical copy that survives, every OTHER occurrence is
    * flagged, and flagged windows that overlap or touch within a
    * document merge into maximal removal spans
    * (doc_id, span_start, span_end, n_windows) — token positions,
    * 1-based inclusive, ready to subtract from a chunking/export pass.
    *
    * Unlike the suffix-array construction of the paper (global sorted
    * order — hostile to data parallelism), the fixed-l window form is
    * three bounded shuffles, each on a scalable key: (1) the df count +
    * canonical pick groups on the 32-hex fingerprint with a
    * partial-aggregatable `min(struct(doc_id, start))` — deliberately
    * NOT a row_number window over fp, which would funnel a corpus-hot
    * span (a boilerplate license header at 100 TB) through one task;
    * (2) the join-back on fp is AQE-skew-splittable; (3) the span merge
    * shuffles on doc_id with an in-partition running-max — per-doc
    * window state, linear. Window fan-out is one row per token
    * (stride 1), the same order as the corpus itself. Catching every
    * duplicated substring of length ≥ l needs exactly this stride-1
    * window set: two docs sharing m ≥ l consecutive tokens share
    * m − l + 1 fingerprints, so the merged span reconstructs the full
    * shared run; conversely no span shorter than l is ever flagged.
    */
  def repeatedSpans(docs: DataFrame, l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(l >= 2, s"span window l ($l) must be >= 2")
    val win = docs
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= l)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - (l - 1))).as("start"))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        md5(concat_ws(" ", slice(col("ws"), col("start"), lit(l)))).as("fp"))
    val canon = win
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("start"))).as("c"),
        count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
      .select(col("fp"), col("c.doc_id").as("c_doc"),
        col("c.start").as("c_start"))
    val flagged = win.join(canon, Seq("fp"))
      .filter(!(col("doc_id") === col("c_doc") &&
        col("start") === col("c_start")))
      .select(col("doc_id"), col("start"),
        (col("start") + (l - 1)).as("e"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val prevEnd = max(col("e"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      // span break when this window starts beyond the running max end
      // + 1: overlapping AND immediately adjacent flagged windows merge
      .withColumn("brk",
        when(col("start") > coalesce(prevEnd, lit(-1L)) + 1, 1L)
          .otherwise(0L))
      .withColumn("span_id",
        sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("start")).as("span_start"), max(col("e")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Apply [[repeatedSpans]] removal spans to the corpus: drop every
    * token whose 1-based position falls inside one of the doc's spans
    * and reassemble the survivors in order — the rewrite that turns the
    * span list into the deduplicated training corpus (canonical
    * occurrences survive because [[repeatedSpans]] never flags them).
    * Returns (doc_id, clean_text, n_kept, n_removed); documents with no
    * spans pass through with n_removed = 0.
    *
    * Scale shape: spans explode into their covered positions (Σ span
    * lengths ≤ corpus token count), the subtraction is an equi
    * anti-join on (doc_id, pos) — never a range predicate, which would
    * deny a hash join — and reassembly is one groupBy(doc_id) with an
    * in-group array_sort; three linear shuffles total, no driver state.
    */
  def removeSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("p", "tok")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("pos"),
        col("tok"))
    val removed = spans
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val kept = toks
      .join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("kept_text"),
        count(lit(1)).as("kept_n"))
    // left join from the corpus, not inner from the survivors: a doc
    // whose every token sat in a span still yields a row (empty
    // clean_text) rather than silently vanishing from the output
    docs
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_total"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_text"), lit("")).as("clean_text"),
        coalesce(col("kept_n"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("kept_n"), lit(0L))).as("n_removed"))
  }

  /** Exact all-pairs Jaccard with AllPairs/PPJoin-style prefix filtering
    * (Bayardo et al., WWW'07; Xiao et al., WWW'08): index only each set's
    * *prefix* — its |A| − ceil(t·|A|) + 1 globally rarest shingles — and
    * generate candidates from prefix collisions. Lossless: J(A,B) ≥ t
    * implies |A∩B| ≥ t·|A|, and two sets sharing no prefix element can
    * overlap in at most ceil(t·|A|) − 1 elements. Candidates are then
    * verified with the exact set Jaccard.
    *
    * Wins over the plain inverted index when the shingle frequency
    * distribution is heavy (Σ freq² blow-up): hot shingles sit at the end
    * of the canonical order and never enter a prefix. Measured on the
    * sf0.1 synthetic corpus the plain index is still faster (2.0 s vs
    * 2.6 s best-of-3 — the per-doc canonical sort dominates at this
    * corpus size), so [[jaccardPairsIndex]] backs the declared query and
    * this operator is the documented escape hatch for skewed corpora.
    */
  def jaccardPairsPrefix(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // checkpointed once: the one-shot DAG would otherwise re-shingle the
    // corpus four times (prefix index + both verify stages' join sides).
    // The hashed shingle array rides along so the first verify stage
    // compares 8-byte longs, not ~25-byte strings.
    val sg = shingled(docs, n)
      .withColumn("sgh", transform(col("sg"), s => xxhash64(s)))
      .materialized
    val candidates = prefixCollisions(sg, threshold)
      .select("da", "db")
      .distinct()
    // two-stage verify. Stage 1 decides the candidate bulk on the hashed
    // arrays: hashed Jaccard can only OVER-estimate (collisions inflate
    // the intersection and shrink the union), so the filter keeps a
    // superset of the qualifying pairs while the wide shuffle moves
    // longs. Stage 2 re-verifies the (true-pair-scale) survivors on the
    // real shingle strings, so the output is bit-identical to
    // [[jaccardPairsIndex]] even under a hash collision.
    val ah = sg.select(col("doc_id").as("da"), col("sgh").as("ha"))
    val bh = sg.select(col("doc_id").as("db"), col("sgh").as("hb"))
    val survivors = candidates
      .join(ah, "da")
      .join(bh, "db")
      .filter(size(array_intersect(col("ha"), col("hb"))).cast(DoubleType) /
        size(array_union(col("ha"), col("hb"))) >= threshold - 1e-6)
      .select("da", "db")
    val a = sg.select(col("doc_id").as("da"), col("sg").as("sga"))
    val b = sg.select(col("doc_id").as("db"), col("sg").as("sgb"))
    survivors
      .join(a, "da")
      .join(b, "db")
      .select(col("da"), col("db"),
        round(jaccard(col("sga"), col("sgb")), 6).as("j"))
      .filter(col("j") >= threshold)
  }

  /** The collision relation feeding [[jaccardPairsPrefix]]'s candidate
    * set — prefix-index self-join output, post size-ratio prune, BEFORE
    * the pair distinct/aggregate. Its row count is the quantity the
    * prefix filter exists to shrink (the rows crossing the pair-key
    * shuffle), so SkewSpec counts it against [[indexCollisions]] on a
    * hot-shingle corpus.
    */
  private[graft] def prefixCollisions(sg: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // 64-bit hashed join keys, like [[jaccardPairsIndexHashed]]: the
    // freq count and the prefix self-join move 8-byte longs instead of
    // ~25-byte 3-gram strings (a cross-doc hash collision only ADDS a
    // candidate, and the caller's exact verify decides membership). The
    // canonical order keeps the shingle text as the final tie-break so
    // it stays INJECTIVE per doc — the positional filter below counts
    // "elements strictly before the first common element", which a
    // within-doc hash tie would otherwise miscount.
    val inv = sg.select(col("doc_id"), size(col("sg")).as("sz"),
      explode(col("sg")).as("s"))
      .withColumn("sh", xxhash64(col("s")))
    val freq = inv.groupBy(col("sh")).agg(count(lit(1)).as("f"))
    // canonical order: rarest first, hash then text as tie-break
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("f"), col("sh"), col("s"))
    val prefix = inv.join(freq, "sh")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("sh"), col("doc_id"), col("sz"), col("pos"))
    prefix.select(col("sh"), col("doc_id").as("da"), col("sz").as("sza"),
        col("pos").as("pa"))
      .join(prefix.select(col("sh"), col("doc_id").as("db"),
        col("sz").as("szb"), col("pos").as("pb")), Seq("sh"))
      .filter(col("da") < col("db") &&
        least(col("sza"), col("szb")).cast(DoubleType) /
          greatest(col("sza"), col("szb")) >= threshold - 1e-6 &&
        // PPJoin positional filter (Xiao et al. §3.2): if this collision
        // is the pair's FIRST common element in canonical order, every
        // earlier element on either side is non-shared, so
        // |A∩B| ≤ 1 + min(|A|−pa, |B|−pb); J ≥ t forces
        // |A∩B| ≥ t/(1+t)·(|A|+|B|). A qualifying pair always has its
        // first common element inside both prefixes (the collision that
        // passes), so OR-ing the test across collisions is lossless —
        // and it is what cuts the candidate set from "shares any rare
        // shingle" (~62 per doc on the sf0.1 corpus) to nearly the true
        // pair list before the distinct + verify shuffles.
        (lit(1L) + least(col("sza") - col("pa"), col("szb") - col("pb")))
          .cast(DoubleType) >=
          (col("sza") + col("szb")) * (threshold / (1 + threshold)) - 1e-6)
  }

  /** The corresponding collision relation of the plain (hashed) inverted
    * index — what [[jaccardPairsIndexHashed]] shuffles into its pair
    * aggregate. Σ_shingle freq² shaped: a hot shingle contributes
    * quadratically, which is exactly the skew blow-up the prefix filter
    * avoids.
    */
  private[graft] def indexCollisions(sg: DataFrame,
      threshold: Double): DataFrame = {
    val inv = sg.select(col("doc_id"), size(col("sg")).as("sz"),
      explode(transform(col("sg"), s => xxhash64(s))).as("sh"))
    val l = inv.select(col("sh"), col("doc_id").as("da"), col("sz").as("sza"))
    val r = inv.select(col("sh"), col("doc_id").as("db"), col("sz").as("szb"))
    l.join(r, Seq("sh"))
      .filter(col("da") < col("db") &&
        least(col("sza"), col("szb")).cast(DoubleType) /
          greatest(col("sza"), col("szb")) >= threshold - 1e-6)
  }

  /** Incremental fuzzy dedup: flag each NEW-batch document whose n-gram
    * Jaccard with ANY base-corpus document reaches `threshold`, with the
    * best base match (highest j, lowest base id on ties) — the near-dup
    * analog of the exact fingerprint probe (x31), i.e. the "don't
    * re-ingest a paraphrase of what we already have" step of a
    * continuously fed pipeline.
    *
    * Probe shape, not self-join shape: the base side becomes a hashed
    * inverted shingle index (buildable once and persistable — at 100 TB
    * the base never re-shingles per batch), the batch explodes its own
    * shingles and equi-joins the index. Candidate mass is
    * Σ_shingle df_base·df_batch — proportional to the BATCH size, never
    * base². Same two-stage exactness argument as
    * [[jaccardPairsIndexHashed]]: hashed intersection counts only
    * over-count, so the pruned candidate set is a superset, and the
    * exact set-verify on the true shingle arrays decides membership.
    */
  def incrementalFuzzyDedup(base: DataFrame, batch: DataFrame, n: Int,
      threshold: Double): DataFrame = {
    val sgBase = shingled(base, n).materialized
    val sgBatch = shingled(batch, n).materialized
    def inv(sg: DataFrame) = sg.select(col("doc_id"),
      size(col("sg")).as("sz"),
      explode(transform(col("sg"), s => xxhash64(s))).as("sh"))
    val probe = inv(sgBatch)
      .select(col("sh"), col("doc_id").as("da"), col("sz").as("sza"))
    val index = inv(sgBase)
      .select(col("sh"), col("doc_id").as("db"), col("sz").as("szb"))
    val cand = probe.join(index, Seq("sh"))
      // lossless length prune (J ≤ min/max), before the pair-key shuffle
      .filter(least(col("sza"), col("szb")).cast(DoubleType) /
        greatest(col("sza"), col("szb")) >= threshold - 1e-6)
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("inter_hat"),
        first(col("sza")).as("sza"), first(col("szb")).as("szb"))
      .filter(col("inter_hat").cast(DoubleType) /
        (col("sza") + col("szb") - col("inter_hat")) >= threshold - 1e-6)
      .select(col("da"), col("db"))
    val verified = cand
      .join(sgBatch.select(col("doc_id").as("da"), col("sg").as("sga")), "da")
      .join(sgBase.select(col("doc_id").as("db"), col("sg").as("sgb")), "db")
      .select(col("da"), col("db"),
        round(jaccard(col("sga"), col("sgb")), 6).as("j"))
      .filter(col("j") >= threshold)
    val best = verified.groupBy(col("da"))
      .agg(max(col("j")).as("best_j"),
        max_by(col("db"), struct(col("j"), (-col("db")).as("nid")))
          .as("best_base_id"))
      .withColumnRenamed("da", "doc_id")
    batch.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("best_j").isNotNull.as("dup_of_base"),
        col("best_base_id"), col("best_j"))
  }

  /** MinHash estimator fidelity audit: for every VERIFIED near-dup pair
    * (the x06 exact-index contract), the exact Jaccard next to the
    * MinHash ESTIMATE at `numHashes` signature slots — `ĵ = matching
    * slots / numHashes`, the unbiased estimator whose σ = √(j(1−j)/H)
    * governs every banding design in this library. x07/x48 prove the
    * banded paths lossless at the DEFAULT 128 hashes; this query prices
    * a SHORT signature (16 longs = 128 B/doc of sketch state at rest),
    * the "how small can the signature get before the estimate drifts"
    * dial read before shrinking the at-rest dedup index.
    *
    * Unlike the production signature (xxhash64 base hashes, engine
    * private, semantically irrelevant under exact verify), the audit
    * hashes shingles with the portable 60-bit md5 [[TextAnalysis.hash60]]
    * folded into the Mersenne-31 space, so a DuckDB oracle reproduces
    * every slot byte-for-byte from the [[graft.functions.MinHashSig]]
    * seed literals. Scale shape: one shingle pass shared between the
    * pair leg and the signature leg (the relation is materialized);
    * signatures are a per-doc map; the audit output is |pairs| rows.
    */
  def minhashFidelity(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.3, numHashes: Int = 16): DataFrame = {
    val sg = shingled(docs, n).materialized
    val pairs = jaccardPairsFromShingled(sg, threshold)
    val sigs = sg
      .select(col("doc_id"),
        transform(col("sg"),
          s => pmod(hash60(s), lit(MersennePrime31))).as("hv"))
      .select(col("doc_id"), minhashSignature(col("hv"), numHashes).as("sig"))
    pairs
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("siga")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sigb")), "db")
      .select(col("da"), col("db"), col("j"),
        round(
          aggregate(
            zip_with(col("siga"), col("sigb"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, v) => acc + v).cast(DoubleType) /
            numHashes, 6).as("j_est"))
      .select(col("da"), col("db"), col("j"), col("j_est"),
        round(abs(col("j") - col("j_est")), 6).as("abs_err"))
  }

  /** MinHash signature: the codegen'd [[graft.functions.MinHashSig]]. */
  def minhashSignature(hv: Column, numHashes: Int): Column =
    graft.functions.MinHashSig.minhash_sig(hv, numHashes)

  /** Portable HOF formulation of the same signature — semantics oracle
    * for the codegen expression (same fixed seeds), ~50× slower: 128
    * interpreted array allocations per row.
    */
  def minhashSignatureHof(hv: Column, numHashes: Int): Column =
    array(graft.functions.MinHashSig.seeds(numHashes).map { case (a, b) =>
      array_min(transform(hv,
        h => pmod(h * lit(a) + lit(b), lit(MersennePrime31))))
    }.toSeq: _*)

  /** Near-duplicate clustering: connected components over a verified
    * pair graph, each document labeled with the min doc_id of its
    * component (singletons label themselves). This is the step that turns
    * pairwise near-dup output into actionable dedup groups ("keep the
    * cluster representative, drop the rest").
    *
    * Shape: iterative min-label propagation — per iteration one equi-join
    * of the (small) edge list against the labels and one groupBy(min),
    * both keyed on doc_id, i.e. the standard large-graph CC pattern
    * without a graph library. Converges in diameter(component)
    * iterations; near-dup components are shallow clusters, so this is
    * 2–4 rounds in practice. The FIRST propagation round is fused into
    * the init: before any iteration, every neighbor's label is just its
    * id, so `min(self, neighbors)` is a single groupBy over the edge
    * list — no join — and the loop starts one round ahead.
    *
    * Each iteration is exactly ONE driver action: the `localCheckpoint`
    * job both materializes the new labels and carries the convergence
    * signal through an [[org.apache.spark.sql.Observation]] metric
    * (count of labels that changed this round — labels only ever
    * decrease, so zero changes means a fixpoint). The previous shape ran
    * a separate label-sum aggregate per round, doubling the driver
    * round-trips on a path whose per-job cost is scheduling-dominated.
    *
    * `localCheckpoint()` rather than persist: persist alone is NOT
    * enough for iterative plans — it caches execution but leaves the
    * logical tree growing one join+aggregate layer per iteration, and
    * Catalyst re-analysis over that nesting goes super-linear (measured:
    * a 12-node chain pinned the driver for minutes). The checkpoint cuts
    * the plan back to a flat scan of the materialized labels.
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
      maxIters: Int = 50): DataFrame = {
    // materialize the pair list ONCE before mirroring: the union's two
    // branches would otherwise each re-evaluate the (expensive)
    // pair-generation lineage — measured 2× the whole LSH pipeline
    val p = pairs.select(col("da"), col("db")).materialized
    // propagate over edge-touched nodes ONLY: a node with no edge never
    // changes label, so singletons (the overwhelming majority of a real
    // corpus — near-dup graphs are sparse) stay out of every iteration's
    // join + aggregate and re-enter once at the end via coalesce. The
    // iterating relation is O(|edge endpoints|), not O(corpus). Init =
    // round one: label(v) = min(v, neighbors(v)) via one groupBy.
    labelCorpus(docs, ccMinLabelLoop(symmetricEdges(p), maxIters)._1)
  }

  /** The mirrored (src, dst) edge relation of a (da, db) pair relation,
    * materialized so every CC iteration re-reads a flat cached relation
    * instead of re-running the union over the pairs.
    */
  private def symmetricEdges(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("da"), col("db"))
    p.toDF("src", "dst")
      .union(p.select(col("db"), col("da")).toDF("src", "dst"))
      .materialized
  }

  /** Every corpus doc with its component label: the edge-touched
    * `labels` joined back, singletons labelled by their own doc_id.
    */
  private def labelCorpus(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("cluster", "edge_cluster"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("edge_cluster"), col("doc_id")).as("cluster"))

  /** The near-dup clusters APPLIED: the surviving corpus after fuzzy
    * dedup — the x50 rewrite's fuzzy analog, and the final step of the
    * standard dedup recipe (pairs → components → one representative per
    * component). The min-label propagation in [[dedupClusters]] labels
    * every component with its minimum doc_id, so the representative test
    * is the zero-cost `doc_id == cluster` — no extra window or argmin
    * pass over the corpus.
    *
    * Output: one row per surviving document with `n_members` (how many
    * near-dups it absorbed, 1 = unique) — the multiplicity a pipeline
    * keeps for upweighting or audit.
    *
    * Scale shape: [[dedupClusters]] dominates (edge-touched label
    * propagation); on top of it this adds one groupBy on `cluster`
    * (corpus-bounded, near-dup components are tiny) and one equi-join
    * back to the corpus on `doc_id`. Nothing here is quadratic.
    */
  def fuzzyDedupCorpus(docs: DataFrame, pairs: DataFrame): DataFrame =
    fuzzyDedupFromClusters(docs, dedupClusters(docs, pairs))

  /** [[fuzzyDedupCorpus]] over an already-computed cluster relation
    * (e.g. [[cachedClusters]]) — the consumer-side face of the
    * pairs → components → representative recipe.
    */
  def fuzzyDedupFromClusters(docs: DataFrame,
      clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy(col("cluster"))
      .agg(count(lit(1)).cast("int").as("n_members"))
    clusters.filter(col("doc_id") === col("cluster"))
      .join(sizes, Seq("cluster"))
      .join(docs.select(col("doc_id"), col("source"), col("text")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_members"), col("source"), col("text"))
  }

  /** The [[dedupClusters]] iteration body as a seam: min-label CC over
    * a MIRRORED, materialized edge relation → (labels over edge-touched
    * nodes, rounds run — counting the fused init as round one). The
    * round count is returned so it is measured, not asserted (the
    * min-label vs alternating rounds are in SCALE.md, near-dup
    * clustering).
    */
  private[graft] def ccMinLabelLoop(edges: DataFrame,
      maxIters: Int): (DataFrame, Int) = {
    val (labels, rounds, done) = ccMinLabelLoopBounded(edges, maxIters)
    // exhausting the cap means labels are still moving — failing loudly
    // beats silently returning a split component (the caller can raise
    // maxIters; diameter can't exceed the longest near-dup chain)
    if (!done) throw new IllegalStateException(
      s"dedupClusters did not converge within $maxIters iterations; " +
        "raise maxIters for very long chain components")
    (labels, rounds)
  }

  /** [[ccMinLabelLoop]] that STOPS at the cap instead of throwing —
    * (labels-so-far, rounds run, converged). The seam behind
    * [[dedupClustersAuto]]'s depth probe, where hitting the cap is a
    * signal (the graph is deep), not an error.
    */
  private[graft] def ccMinLabelLoopBounded(edges: DataFrame,
      maxIters: Int): (DataFrame, Int, Boolean) = {
    var labels = edges.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("cluster"))
      .select(col("src").as("doc_id"), col("cluster"))
      .materialized
    var done = labels.isEmpty
    var i = 0
    while (!done && i < maxIters) {
      val obs = org.apache.spark.sql.Observation(s"cc_changed_${i}_" +
        java.util.UUID.randomUUID().toString.take(8))
      labels = ccStep(edges, labels, obs).materialized
      done = Option(obs.get("n_changed"))
        .forall(_.asInstanceOf[Long] == 0L)
      i += 1
    }
    (labels, i + 1, done)
  }

  /** [[dedupClusters]] with the CC shape chosen BY THE GRAPH, not the
    * caller: run min-label propagation for at most `probeRounds`
    * rounds — on shallow graphs (measured D ≤ 3 on every real near-dup
    * corpus probed, SCALE.md) this both IS the depth probe and IS the
    * answer, at zero wasted work; if labels are still moving at the
    * cap the graph is chain-deep, min-label would need ~D rounds, and
    * the run switches to alternating large/small-star (SoCC'14,
    * O(log² ) rounds — [[dedupClustersAlternating]]), whose higher
    * per-round price is exactly what the shallow case avoids paying.
    * Both shapes were measured head-to-head (SCALE.md, near-dup
    * clustering and round 11); this turns the documented "deep-graph
    * escape hatch" into an automatic choice.
    * Output contract identical to [[dedupClusters]] (min doc_id per
    * component; spec-asserted on both branches).
    */
  def dedupClustersAuto(docs: DataFrame, pairs: DataFrame,
      probeRounds: Int = 5, maxRounds: Int = 30): DataFrame = {
    require(probeRounds >= 1, s"probeRounds must be >= 1: $probeRounds")
    val p = pairs.select(col("da"), col("db")).materialized
    val (probeLabels, _, converged) =
      ccMinLabelLoopBounded(symmetricEdges(p), probeRounds)
    labelCorpus(docs,
      if (converged) probeLabels else ccAlternatingLoop(p, maxRounds)._1)
  }

  /** Session-lifetime memo of the expensive near-dup ARTIFACTS — the
    * verified pair relation and the CC cluster labels — keyed exactly
    * like [[Similarity]]'s trained-centroid memo: the input's
    * [[CorpusId]] + the hyperparameters. A real pipeline materializes
    * the pair graph once
    * and every consumer (rewrite, histogram, split, savings report)
    * reads the artifact; the declared rider queries do the same, and
    * each artifact keeps exactly ONE live builder so its cost stays
    * measured: x06 builds the pair relation from scratch, and x17 runs
    * the CC fixpoint live over the cached pair artifact (its recorded
    * time is clustering cost alone — pair generation is x06's row).
    * Values are
    * localCheckpointed relations, edge/label-bounded (near-dup graphs
    * are sparse — the artifact is orders of magnitude smaller than the
    * corpus it audits). The labels build runs the pairs build nested.
    */
  private val artifactMemo = new Memo[DataFrame]

  private[graft] def artifactCacheSize: Int = artifactMemo.size

  /** Invalidation hook — the
    * [[Similarity.invalidateTrainedCentroids]] analog for inputs
    * mutated in ways the corpus identity cannot see.
    */
  def invalidateDedupArtifacts(): Unit = artifactMemo.clear()

  private def memoized(input: DataFrame, tag: String)(
      build: => DataFrame): DataFrame =
    artifactMemo(CorpusId.of(input), tag)(build.materialized)

  /** [[jaccardPairsIndexHashed]] as a session-cached artifact. */
  def cachedPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    memoized(docs, s"pairs:$n:$threshold")(
      jaccardPairsIndexHashed(docs, n, threshold))

  /** [[dedupClusters]] over [[cachedPairs]], with the edge-label
    * fixpoint itself served from the session cache — only the cheap
    * corpus re-join (singleton coalesce) runs per call. Output is
    * row-identical to `dedupClusters(docs, jaccardPairsIndexHashed(…))`
    * (spec-asserted).
    */
  def cachedClusters(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      maxIters: Int = 50): DataFrame = {
    val pairs = cachedPairs(docs, n, threshold)
    labelCorpus(docs,
      memoized(docs, s"ccLabels:$n:$threshold:$maxIters") {
        ccMinLabelLoop(symmetricEdges(pairs), maxIters)._1
      })
  }

  /** The near-dup artifacts AT REST: the verified pair relation
    * (`path/pairs`) and the CC labels over edge-touched docs
    * (`path/clusters`) written once as parquet. [[cachedPairs]] /
    * [[cachedClusters]] die with the JVM; a real 100 TB pipeline
    * deduplicates across JOBS and days — the pair graph and component
    * labels are exactly the artifacts every downstream consumer
    * (rewrite, split, savings ledger, incremental probes x31/x59) wants
    * to read without re-paying the banded index join, so they get the
    * same at-rest treatment as the IVF index ([[Similarity
    * .writeIvfIndex]]). Only edge-touched labels are stored — near-dup
    * graphs are sparse, so the at-rest form is orders of magnitude
    * smaller than the corpus; singletons re-enter at read time
    * ([[readDedupClusters]]' coalesce), exactly as in [[dedupClusters]].
    */
  def writeDedupIndex(docs: DataFrame, path: String, n: Int = 3,
      threshold: Double = 0.5, maxIters: Int = 50): Unit = {
    // built live, not via the session cache: an at-rest build is its own
    // job and must not silently alias a possibly-stale JVM memo
    val sg = shingled(docs, n).materialized
    val pairs = jaccardPairsFromShingled(sg, threshold).materialized
    // r20 (guide §2.6): the pair write, the prefix-index write (the
    // base's hashed PREFIX rides at rest next to the pairs so future
    // incremental extensions probe the batch against it instead of
    // re-shingling the whole base), and the CC fixpoint chain are
    // mutually independent once `pairs` is materialized — run them
    // overlapped instead of serially idling the cluster between
    // actions. Crash-safe: the whole body runs in the caller's
    // stampless window, any failure → rebuild on next entry.
    graft.engine.Par.all(
      () => pairs.write.mode("overwrite").parquet(s"$path/pairs"),
      () => prefixIndexRows(sg, threshold)
        .write.mode("overwrite").parquet(s"$path/prefix"),
      () => writeClusters(pairs, path, maxIters))
  }

  /** pairs → symmetric edges → [[ccMinLabelLoop]] → `path/clusters`:
    * the label write every pair-index build and extension ends with.
    */
  private def writeClusters(pairs: DataFrame, path: String,
      maxIters: Int): Unit =
    ccMinLabelLoop(symmetricEdges(pairs), maxIters)._1
      .write.mode("overwrite").parquet(s"$path/clusters")

  /** The PPJoin-style PREFIX rows of a shingled relation, with 64-bit
    * hashed keys — the at-rest probe index `writeDedupIndex` persists
    * and the exact family's delta joins against. Shingles are canonically
    * ordered by their STRING (not rarest-first like
    * [[prefixCollisions]]): document frequencies drift as a corpus
    * grows, so an at-rest index needs an order that is stable across
    * builds and batches — lexicographic is globally consistent,
    * injective per doc (shingle sets are distinct strings), and free
    * (one per-row array_sort, no df join). For Jaccard ≥ t a qualifying
    * pair must share an element inside BOTH prefixes of length
    * |X| − ⌈t·|X|⌉ + 1 under ANY shared total order (Chaudhuri et al.
    * ICDE'06 / Xiao et al. WWW'08), so prefix×prefix candidate
    * generation is lossless; hashing the key afterwards can only ADD
    * candidates (collisions), and the exact verify decides membership.
    */
  private[graft] def prefixIndexRows(sg: DataFrame,
      threshold: Double): DataFrame =
    sg.select(col("doc_id"), size(col("sg")).as("sz"),
        array_sort(col("sg")).as("ss"))
      .select(col("doc_id"), col("sz"),
        explode(slice(col("ss"), lit(1),
          (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")))
          .as("s"))
      .select(col("doc_id"), col("sz"), xxhash64(col("s")).as("sh"))

  private val DedupLayout = AtRest.Layout("_graft_dedup_meta",
    Seq(AtRest.Accreting("prefix")))

  /** The exact near-dup index family ([[writeDedupIndex]]). Its delta
    * finds every verified pair INVOLVING the new batch, in
    * [[jaccardPairsIndexHashed]]'s exact (da < db, j) contract:
    * batch-internal pairs from the hashed index over the batch alone,
    * plus batch×base pairs from an ASYMMETRIC prefix-filtered probe
    * (the batch's prefix rows against the base's AT-REST prefix index
    * — the x59/x31 incremental shape, so the base is never re-joined
    * against itself nor even re-shingled). Together with the base's own
    * pair relation this IS the full corpus pair set: every pair of
    * base∪batch has either both ends in the base (at rest already),
    * both in the batch, or one in each — which is what makes the
    * incremental result provably equal to a batch rebuild (x121
    * hash-asserts it against the full-corpus oracle every round).
    *
    * The prefix×prefix candidate join — NOT a raw full-shingle
    * equi-join, whose Σ df_batch·df_base mass re-opens the hot-shingle
    * blowup x06's scale story documents on saturated corpora: a
    * corpus-saturating boilerplate shingle sits in almost no prefix and
    * contributes ~0 candidates. The probe's candidate mass still grows
    * with the base on SATURATED vocabularies (measured 386 s at a fixed
    * 2 000-doc batch / 498 k base, SCALE.md round 12, where the LSH
    * family's banded-key probe runs 48.5 s), so this exact form is the
    * below-saturation/validation path and the LSH family is the
    * production default at scale.
    */
  private def dedupFamily(n: Int, threshold: Double, maxIters: Int) =
    AtRest.Family[Unit](DedupLayout, (_, _) => (),
      // trailing layout version: 2 added the at-rest prefix index, so a
      // v1 artifact dir (no prefix/) can never stamp-match and extend
      key = (docs, _) => CorpusId.stamp(docs, n, threshold, maxIters, 2),
      model = None,
      build = (docs, path, _) =>
        writeDedupIndex(docs, path, n, threshold, maxIters),
      delta = (base, batch, path, _) => {
        val sgBatch = shingled(batch, n).materialized
        val batchPrefix = prefixIndexRows(sgBatch, threshold)
        // the NEW pairs only, materialized BEFORE any append so the
        // at-rest prefix probe inside cannot see batch rows
        val newPairs = jaccardPairsFromShingled(sgBatch, threshold)
          .unionByName(crossPairs(batchPrefix,
            AtRest.read(base.sparkSession, path, "prefix"), Seq("sh"),
            sgBatch, base, n, threshold))
          .materialized
        appendPairs(path, newPairs, "prefix", batchPrefix, maxIters)
      })

  /** Batch×base pairs of a pair-index delta: candidates from the
    * batch's probe rows equi-joined to the base's at-rest probe rows on
    * `keys` (size-ratio pruned), then the exact verify. The verify is
    * CANDIDATE-bounded on the base side: only the base docs that appear
    * in a candidate pair are re-shingled (a left-semi prune before the
    * tokenizer), so per-batch work is O(batch) + O(candidates) — never
    * an O(base) pass. Output in canonical global orientation (base and
    * batch ids interleave).
    */
  private def crossPairs(batchRows: DataFrame, baseRows: DataFrame,
      keys: Seq[String], sgBatch: DataFrame, base: DataFrame, n: Int,
      threshold: Double): DataFrame = {
    def side(rows: DataFrame, id: String, sz: String) =
      rows.select(keys.map(col) :+ col("doc_id").as(id) :+
        col("sz").as(sz): _*)
    val cand = side(batchRows, "na", "sza")
      .join(side(baseRows, "nb", "szb"), keys)
      .filter(least(col("sza"), col("szb")).cast(DoubleType) /
        greatest(col("sza"), col("szb")) >= threshold - 1e-6)
      .select(col("na"), col("nb")).distinct()
      .materialized
    val sgBaseCand = shingled(
      base.join(cand.select(col("nb").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"), n)
    cand
      .join(sgBatch.select(col("doc_id").as("na"), col("sg").as("sga")), "na")
      .join(sgBaseCand.select(col("doc_id").as("nb"), col("sg").as("sgb")),
        "nb")
      .select(col("na"), col("nb"),
        round(jaccard(col("sga"), col("sgb")), 6).as("j"))
      .filter(col("j") >= threshold)
      .select(least(col("na"), col("nb")).as("da"),
        greatest(col("na"), col("nb")).as("db"), col("j"))
  }

  /** The pair families' delta tail. r20: the pair relation is
    * APPENDED, not union-overwritten — an extension writes O(batch
    * pairs) bytes where it rewrote the whole accumulated relation
    * before (at 100 TB the base relation dwarfs every batch). The base
    * pairs are snapshotted (materialized) BEFORE the appends start — a
    * lazy read racing a concurrent append could list half-committed new
    * files — and then three independent actions overlap (guide §2.6):
    * append the new pairs, append the batch's probe rows to `probeRel`,
    * and re-run the CC fixpoint over base ∪ new (measured FLAT — ~1 s
    * at every probed scale, SCALE.md). A crash mid-append leaves the
    * stampless dir of the extension window → full rebuild on next entry.
    */
  private def appendPairs(path: String, newPairs: DataFrame,
      probeRel: String, probeRows: DataFrame, maxIters: Int): Unit = {
    val basePairs = readDedupPairs(newPairs.sparkSession, path).materialized
    graft.engine.Par.all(
      () => newPairs.write.mode("append").parquet(s"$path/pairs"),
      () => probeRows.write.mode("append").parquet(s"$path/$probeRel"),
      () => writeClusters(basePairs.unionByName(newPairs), path, maxIters))
  }

  /** [[writeDedupIndex]] only when needed — the [[Similarity
    * .ensureIvfIndex]] discipline applied to the dedup artifacts: the
    * corpus data fingerprint + plan hash + hyperparameters are stamped
    * into a `_graft_dedup_meta` sidecar after a successful build and
    * compared on entry, so an unchanged corpus reuses the at-rest pair
    * graph and labels across JVMs and days while any drift (or `force`,
    * the out-of-band-mutation hatch) rebuilds. Crash-safety and FS
    * plumbing live in [[graft.engine.AtRest]]. Returns true when a
    * (re)build happened.
    */
  def ensureDedupIndex(docs: DataFrame, path: String, n: Int = 3,
      threshold: Double = 0.5, maxIters: Int = 50,
      force: Boolean = false): Boolean =
    AtRest.ensure(dedupFamily(n, threshold, maxIters), docs, path, force)

  /** Extend an at-rest [[writeDedupIndex]] with a NEW document batch
    * WITHOUT re-probing the base against itself — the cross-job shape
    * a 100 TB pipeline actually runs (yesterday's corpus is indexed;
    * today's crawl lands): if the sidecar stamp matches `baseDocs`,
    * only the family's delta runs (see [[dedupFamily]]), and the
    * artifacts are then re-stamped for `baseDocs.union(newDocs)`, so a
    * later [[ensureDedupIndex]] over the same union reuses them. A
    * drifted or missing stamp falls back to a full rebuild over the
    * union — never a silently stale merge. Returns true when any build
    * ran.
    */
  def extendDedupIndex(baseDocs: DataFrame, newDocs: DataFrame,
      path: String, n: Int = 3, threshold: Double = 0.5,
      maxIters: Int = 50): Boolean =
    AtRest.extend(dedupFamily(n, threshold, maxIters), baseDocs, newDocs,
      path, None)

  /** The at-rest verified pair relation (da, db, j) of a
    * [[writeDedupIndex]] build — a plain parquet scan, no recompute.
    */
  def readDedupPairs(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = AtRest.read(spark, path, "pairs")

  private val DedupLshLayout = AtRest.Layout("_graft_dedup_lsh_meta",
    Seq(AtRest.Accreting("bands")))

  /** The banding parameters an at-rest LSH index build (or extension)
    * runs under — the sampled auto-probe of [[jaccardPairsLshAuto]],
    * resolved AGAINST A NAMED CORPUS so the decision is reproducible
    * across JVMs: the probe samples a deterministic md5-ordered 1024
    * docs, so the same corpus always lands on the same (numHashes,
    * bands). The chosen pair is baked into the index STAMP (the
    * LSH family's `P`, resolved from the union an extension builds): a
    * corpus whose probe flips the banding, or a sidecar written under
    * other banding, mismatches the stamp and falls back to a full
    * rebuild instead of ever probing batch keys against base keys
    * hashed under different banding.
    */
  private[graft] def lshIndexParams(docs: DataFrame,
      n: Int): (Int, Int) = {
    val (h, b, _) = chooseLshBands(docs, n, LshNumHashes)
    (h, b)
  }

  /** The banding an LSH index stamp holds, when that stamp is `docs`'s
    * own key under it. The banding is a pure function of the corpus, so
    * an index stamped for this corpus already holds the probe's answer,
    * and a no-op ensure starts no Spark job. As with
    * [[jaccardPairsLshAuto]]'s decision at rest, only the hash budget is
    * read, and only one of [[chooseLshBands]]' two; the band count is
    * derived, so a stamp under any other banding fails the key match
    * and rebuilds.
    */
  private def stampedBanding(docs: DataFrame, stamp: Option[String], n: Int,
      threshold: Double, maxIters: Int): Option[(Int, Int)] =
    stamp.collect { case StampedBudget(h) => (h.toInt, LshNumHashes / 2) }
      .filter(p => (p._1 == LshNumHashes || p._1 == 2 * LshNumHashes) &&
        stamp.contains(dedupLshStamp(docs, n, threshold, maxIters, p)))

  private val StampedBudget = """.*:h=(\d+):b=\d+:2""".r

  private def dedupLshStamp(docs: DataFrame, n: Int, threshold: Double,
      maxIters: Int, params: (Int, Int)): String =
    // banding params as EXPLICIT h=/b= fields (v2): v1 stamped them
    // positionally through Seq.mkString, which numerically widened the
    // Ints to "128.0". A v1 stamp never equals a v2 key, which is the
    // safe arm: full string-equality gating means it rebuilds, never
    // mixes key spaces.
    CorpusId.stamp(docs, n, threshold, maxIters,
      s"h=${params._1}", s"b=${params._2}", 2)

  /** The LSH-keyed at-rest near-dup index — [[writeDedupIndex]] with
    * banded minhash keys (`path/bands`) in place of the exact prefix
    * index (`path/prefix`) as the persisted probe structure. Pairs are
    * the declared x07 path's ([[jaccardPairsLshAuto]] semantics at the
    * stamped banding), NOT the exact inverted-index relation: on
    * natural-vocabulary corpora the two are measured identical (x136
    * audits recall = 1.0 every round) while on saturated corpora —
    * where the exact Σdf² build and its prefix probe melt (the measured
    * 386 s fixed-batch extension at 100×, SCALE.md round 12) — the
    * banded keys keep BOTH the build and every incremental extension
    * collision-bounded. The per-doc key count is `bands` (64), constant
    * in corpus size, so the at-rest key index is a skinny linear
    * artifact; on a real cluster it would be written bucketed by
    * `bkey` so extensions probe without a base-side shuffle.
    */
  def writeDedupIndexLsh(docs: DataFrame, path: String, n: Int = 3,
      threshold: Double = 0.5, maxIters: Int = 50,
      params: Option[(Int, Int)] = None): Unit = {
    val (numHashes, bands) = params.getOrElse(lshIndexParams(docs, n))
    val sg = shingled(docs, n).materialized
    val keys = bandedKeys(sg, numHashes, bands).materialized
    val pairs = lshPairsFromBanded(sg, keys, threshold).materialized
    // r20 (guide §2.6): key write, pair write, and the CC chain are
    // independent once both relations are materialized — overlapped
    graft.engine.Par.all(
      () => keys.write.mode("overwrite").parquet(s"$path/bands"),
      () => pairs.write.mode("overwrite").parquet(s"$path/pairs"),
      () => writeClusters(pairs, path, maxIters))
  }

  /** The LSH dedup index family ([[writeDedupIndexLsh]]) — the
    * 100×-CAPABLE counterpart of [[dedupFamily]]: its delta finds
    * batch×base candidates by equi-joining the batch's band keys
    * against the base's AT-REST key index on (band, bkey), so per-batch
    * work is the batch's own banding + a collision-bounded candidate
    * join + a candidate-bounded exact verify — the quantity banding
    * CONTROLS (the auto probe flips to r=4 exactly when collision mass
    * saturates), where the exact prefix probe's Σ_key df·df mass grows
    * with the base on saturated vocabularies (measured: fixed 2 000-doc
    * batch against a 498 000-doc saturated base — prefix probe 386 s,
    * this path's row in SCALE.md round 12). Batch-internal pairs use the
    * same banded semantics over the batch alone.
    */
  private[graft] def dedupLshFamily(n: Int = 3, threshold: Double = 0.5,
      maxIters: Int = 50) =
    AtRest.Family[(Int, Int)](DedupLshLayout,
      (docs, stamp) => stampedBanding(docs, stamp, n, threshold, maxIters)
        .getOrElse(lshIndexParams(docs, n)),
      key = dedupLshStamp(_, n, threshold, maxIters, _),
      model = None,
      build = (docs, path, params) => writeDedupIndexLsh(docs, path, n,
        threshold, maxIters, Some(params)),
      delta = (base, batch, path, params) => {
        val sgBatch = shingled(batch, n).materialized
        val batchKeys = bandedKeys(sgBatch, params._1, params._2)
          .materialized
        val newPairs = lshPairsFromBanded(sgBatch, batchKeys, threshold)
          .unionByName(crossPairs(batchKeys,
            AtRest.read(base.sparkSession, path, "bands"),
            Seq("band", "bkey"), sgBatch, base, n, threshold))
          .materialized
        appendPairs(path, newPairs, "bands", batchKeys, maxIters)
      })

  /** [[writeDedupIndexLsh]] behind the stamped build-or-reuse seam —
    * the LSH twin of [[ensureDedupIndex]]. Returns true on (re)build.
    */
  def ensureDedupIndexLsh(docs: DataFrame, path: String, n: Int = 3,
      threshold: Double = 0.5, maxIters: Int = 50,
      force: Boolean = false): Boolean =
    AtRest.ensure(dedupLshFamily(n, threshold, maxIters), docs, path, force)

  /** Incremental extension of an at-rest LSH dedup index (see
    * [[dedupLshFamily]]). `unionView` is the CANONICAL plan of
    * base ∪ batch when the caller has one (e.g. a flat multi-dir parquet
    * read over every landed batch): the stamp written after this
    * extension hashes the union's analyzed plan, so a long-running
    * caller chaining .union() per batch would deepen the stamped plan —
    * and the next call's driver-side analysis cost — linearly in batch
    * count. With a flat view the stamp stays constant-depth and the
    * NEXT extension's baseDocs (the same flat read) matches it. Rows
    * must equal baseDocs ∪ newDocs; semantics are unchanged when
    * absent. Returns true when any build ran.
    */
  def extendDedupIndexLsh(baseDocs: DataFrame, newDocs: DataFrame,
      path: String, n: Int = 3, threshold: Double = 0.5,
      maxIters: Int = 50, unionView: Option[DataFrame] = None): Boolean =
    AtRest.extend(dedupLshFamily(n, threshold, maxIters), baseDocs,
      newDocs, path, unionView)

  /** Full corpus labeling from a [[writeDedupIndex]] build: the at-rest
    * edge-touched labels joined back to the corpus, singletons
    * re-entering as their own cluster — row-identical to
    * [[dedupClusters]] over the same corpus and parameters
    * (spec-asserted), but the expensive half is one parquet scan.
    */
  def readDedupClusters(docs: DataFrame, path: String): DataFrame =
    labelCorpus(docs, AtRest.read(docs.sparkSession, path, "clusters"))

  /** Alternating large-star / small-star connected components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected Components
    * in MapReduce and Beyond", SoCC'14) — the round-count alternative to
    * [[dedupClusters]]' min-label propagation, evaluated side by side in
    * SCALE.md (near-dup clustering, and the round-11 x17 row). Same
    * output contract: every doc labeled with its component's min doc_id.
    *
    * Per round: large-star attaches every node's strictly-LARGER
    * neighbors to m = min(Γ⁺(u)), then small-star attaches u and its
    * smaller neighbors to m. Both preserve connectivity, only ever
    * shrink edge endpoints toward the component minimum, and converge
    * to min-rooted stars in O(log²) rounds — on a D-hop chain that is
    * ~log D rounds where min-label needs D. The per-round price is
    * higher (two groupBy+join+distinct phases vs one join+groupBy), so
    * which wins depends on component depth: near-dup graphs are shallow
    * (D ≤ 3 measured — see SCALE.md), which is why min-label stays the
    * x17 default and this is the documented deep-graph escape hatch.
    *
    * Convergence detection costs NO extra job: the star-set test
    * ("every node is either a center — all neighbors larger — or a
    * degree-1 leaf of a smaller node") rides the large-star groupBy as
    * an [[org.apache.spark.sql.Observation]], and a star set is exactly
    * the algorithm's fixpoint.
    *
    * Skew posture: a hot node's neighborhood maps to |Γ| new edges per
    * phase (never a pairwise product), and the per-phase `distinct`
    * keeps the edge multiset from accumulating — the SoCC paper's
    * load-balance argument carries over to Spark's hash shuffle
    * unchanged.
    */
  def dedupClustersAlternating(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    val (labels, _) = ccAlternatingLoop(
      pairs.select(col("da"), col("db")), maxRounds)
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("cluster", "edge_cluster"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("edge_cluster"), col("doc_id")).as("cluster"))
  }

  /** [[dedupClustersAlternating]]'s loop: (labels over edge-touched
    * nodes, rounds run). One large-star + one small-star per round,
    * each ONE driver action (the checkpoint job; the convergence
    * Observation rides the large-star one).
    */
  private[graft] def ccAlternatingLoop(pairs: DataFrame,
      maxRounds: Int): (DataFrame, Int) = {
    // canonical undirected edges (a < b), deduped
    var e = pairs
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"))
      .filter(col("a") =!= col("b")).distinct().materialized
    var round = 0
    var done = e.isEmpty
    while (!done && round < maxRounds) {
      val mir = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b"), col("a")))
      val obs = org.apache.spark.sql.Observation(s"cc_star_${round}_" +
        java.util.UUID.randomUUID().toString.take(8))
      // m = min(Γ⁺(u)); violations = nodes neither center nor leaf —
      // zero ⟺ e is already a disjoint set of min-rooted stars
      val m = mir.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"),
          count(lit(1)).as("dg"))
        .observe(obs, sum(when(col("m") < col("u") && col("dg") > 1, 1L)
          .otherwise(0L)).as("n_violations"))
      // large-star: (v, m(u)) for v > u; m ≤ u < v so (m, v) is
      // canonical and never a self-loop
      val ls = mir.join(m, Seq("u")).filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .distinct().materialized
      done = Option(obs.get("n_violations"))
        .forall(_.asInstanceOf[Long] == 0L)
      if (!done) {
        // small-star: (v, m(u)) for v < u, plus (u, m(u)) — m ≤ v and
        // m ≤ u keep both canonical; equality rows are self-loops
        val mir2 = ls.select(col("a").as("u"), col("b").as("v"))
          .union(ls.select(col("b"), col("a")))
        val m2 = mir2.groupBy(col("u"))
          .agg(least(min(col("v")), col("u")).as("m"))
        val attach = mir2.filter(col("v") < col("u"))
          .join(m2, Seq("u"))
          .select(col("m").as("a"), col("v").as("b"))
        val selfAttach = m2.filter(col("m") < col("u"))
          .select(col("m").as("a"), col("u").as("b"))
        e = attach.union(selfAttach)
          .filter(col("a") =!= col("b")).distinct().materialized
        round += 1
      }
    }
    if (!done) throw new IllegalStateException(
      s"ccAlternating did not converge within $maxRounds rounds")
    val labels = e.select(col("b").as("doc_id"), col("a").as("cluster"))
      .union(e.select(col("a"), col("a")))
      .distinct()
    (labels, round + 1)
  }

  /** One min-label propagation round, pre-checkpoint: join the mirrored
    * edges against the current labels, take the per-node neighbor min,
    * and observe the changed-label count so convergence rides the same
    * job that materializes the result (PlanSpec asserts this plan stays
    * flat — one fresh join over a checkpointed scan — per iteration).
    */
  private[graft] def ccStep(edges: DataFrame, labels: DataFrame,
      obs: org.apache.spark.sql.Observation): DataFrame = {
    val nmin = edges.join(labels, edges("src") === labels("doc_id"))
      .groupBy(col("dst")).agg(min(col("cluster")).as("nmin"))
    labels
      .join(nmin, labels("doc_id") === nmin("dst"), "left")
      .select(col("doc_id"),
        least(col("cluster"), coalesce(col("nmin"), col("cluster")))
          .as("cluster"),
        (coalesce(col("nmin"), col("cluster")) < col("cluster"))
          .as("chg"))
      .observe(obs, sum(when(col("chg"), 1L).otherwise(0L)).as("n_changed"))
      .select(col("doc_id"), col("cluster"))
  }

  /** MinHash + LSH banding near-dup: the scale path.
    *
    * sig → band keys (hash r consecutive sig slots) → explode to
    * (band, key, id) → self-join per bucket → distinct candidate pairs →
    * exact-Jaccard verify ≥ threshold. The default b=64, r=2
    * (numHashes=128) buys near-certain recall at j ≥ 0.5 on corpora
    * with LOW background similarity; on vocabulary-saturated /
    * boilerplate-heavy corpora the short r=2 bands collide on the
    * background (collision mass ~C(n,2)·b·j₀^r — measured exp 1.48 in
    * the 10→100× decade, SCALE.md) and r=4 is the right shape (449 s →
    * 16.4 s at 100×, same corpus). [[jaccardPairsLshAuto]] picks per
    * corpus from a sampled j₀ estimate — the production default.
    */
  def jaccardPairsLsh(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.5,
      numHashes: Int = 128,
      bands: Int = 64): DataFrame = {
    // checkpointed: the banding side and BOTH exact-verify joins read
    // the shingle relation; un-materialized they would each re-tokenize
    // + re-shingle the corpus
    val sg = shingled(docs, n).materialized
    lshPairsFromBanded(sg, bandedKeys(sg, numHashes, bands), threshold)
  }

  /** The candidate-join + exact-verify tail of [[jaccardPairsLsh]],
    * factored over an already-shingled relation and its band keys so
    * the at-rest LSH index ([[writeDedupIndexLsh]]) and the incremental
    * extension ([[extendDedupIndexLsh]]) run the identical pair
    * semantics the declared x07 path runs.
    */
  private[graft] def lshPairsFromBanded(sg: DataFrame,
      withBands: DataFrame, threshold: Double): DataFrame = {
    val l = withBands.select(col("band"), col("bkey"),
      col("doc_id").as("da"), col("sz").as("sza"))
    val r = withBands.select(col("band"), col("bkey"),
      col("doc_id").as("db"), col("sz").as("szb"))
    val candidates = l
      .join(r, Seq("band", "bkey"))
      // the size-ratio prune is lossless (J ≤ min/max) and kills most
      // false candidates from the short r=2 bands before the exact verify
      .filter(col("da") < col("db") &&
        least(col("sza"), col("szb")).cast(DoubleType) /
          greatest(col("sza"), col("szb")) >= threshold - 1e-6)
      .select("da", "db")
      .distinct()
    val a = sg.select(col("doc_id").as("da"), col("sg").as("sga"))
    val b = sg.select(col("doc_id").as("db"), col("sg").as("sgb"))
    candidates
      .join(a, "da")
      .join(b, "db")
      .select(col("da"), col("db"),
        round(jaccard(col("sga"), col("sgb")), 6).as("j"))
      .filter(col("j") >= threshold)
  }

  /** The minhash-signature banding relation: (doc_id, shingle-set
    * size, band, 64-bit band key). Shared by [[jaccardPairsLsh]]'s
    * candidate join and the [[estimateBandCollisionsPerDoc]] probe, so
    * the probe measures EXACTLY the key distribution the join will see.
    */
  private def bandedKeys(sg: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    sg
      .withColumn("hv", shingleHashes(col("sg"))) // md5 once per shingle
      .withColumn("sig", minhashSignature(col("hv"), numHashes))
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bkey",
        hash(col("band"), slice(col("sig"), col("band") * rows + 1, lit(rows))))
      .select(col("doc_id"), size(col("sg")).as("sz"), col("band"), col("bkey"))
  }

  /** Measured expected banding-candidate mass PER DOCUMENT at
    * (numHashes, bands): build the actual band keys for a
    * deterministic hash-ordered `sampleSize`-doc sample (hash order so
    * ingest order cannot bias toward one source), count the sample's
    * collision pairs Σ_key C(df,2) exactly, and extrapolate to the
    * full corpus — collision mass scales with the number of pairs, so
    * mass_full ≈ mass_sample·(N/s)² and per-doc = mass_sample·N/s².
    *
    * Measured, not modeled, deliberately: a mean-Jaccard moment
    * estimate under-predicts the melt badly (a 128-doc pairwise probe
    * on the saturated 10× corpus reads E[j²] ≈ 4·10⁻⁶ — implying ~10⁵
    * false candidates — while the real r=2 banding produces enough
    * collision mass to cost 12+ s; the tail structure that banding
    * keys actually hash on is exactly what a direct key-histogram
    * sample sees and a low-order moment doesn't). Cost: one
    * shingle+minhash pass over ≤ sampleSize docs, one skinny groupBy,
    * one corpus count — all bounded.
    */
  private[graft] def estimateBandCollisionsPerDoc(docs: DataFrame, n: Int,
      numHashes: Int, bands: Int, sampleSize: Int = 1024): Double = {
    val nDocs = docs.count().toDouble
    if (nDocs < 2) return 0.0
    val sample = docs
      .orderBy(md5(concat(lit("lshbg:"), col("doc_id").cast("string"))),
        col("doc_id"))
      .limit(sampleSize)
    val sg = shingled(sample, n).materialized
    val s = sg.count().toDouble
    if (s < 2) return 0.0
    val row = bandedKeys(sg, numHashes, bands)
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("df"))
      // df·(df−1) as exact longs; halve driver-side (Spark `/` is
      // double division)
      .agg(sum(col("df") * (col("df") - 1)).as("mass2"))
      .collect()(0)
    val mass = (if (row.isNullAt(0)) 0.0 else row.getLong(0).toDouble) / 2.0
    mass * nDocs / (s * s)
  }

  /** Base MinHash signature width of the auto-banded LSH routes
    * ([[jaccardPairsLshAuto]], [[lshIndexParams]]): b = 64 bands of
    * r = 2, or twice the hashes at r = 4 ([[chooseLshBands]]). */
  private val LshNumHashes = 128

  /** The banding choice behind [[jaccardPairsLshAuto]], exposed as a
    * seam so specs can assert the decision: rows-per-band r = 2 (the
    * recall-maximal classic) while the measured r=2 candidate mass
    * stays linear-bounded — ≤ 32 expected candidates per document —
    * and r = 4 once it exceeds that, i.e. once the r=2 shortlist is
    * growing ~n² and the verify step melts (the measured 100× blowup:
    * 449 s at r=2 vs 16.4 s at r=4, SCALE.md). The r = 4 switch
    * DOUBLES the hash budget (2·numHashes signatures in numHashes/2
    * bands — x118's 256/64 shape at the default): keeping the original
    * 128 hashes would leave only 32 bands of 4, whose per-pair miss
    * probability at the j = 0.5 threshold is (1 − 0.5⁴)^32 ≈ 13% —
    * nowhere near the near-certain recall the declared query promises.
    * At 64 bands it is ≈ 1.9% at j = 0.5 and ≈ 2·10⁻⁸ at j = 0.7, and
    * the signature is a per-row expression, so the wider budget costs
    * map-side compute only — never more shuffle rows per band. Returns
    * (numHashes, bands, measured r=2 candidates/doc).
    */
  private[graft] def chooseLshBands(docs: DataFrame, n: Int,
      numHashes: Int): (Int, Int, Double) = {
    require(numHashes % 4 == 0, s"numHashes must be divisible by 4: $numHashes")
    val perDocR2 =
      estimateBandCollisionsPerDoc(docs, n, numHashes, numHashes / 2)
    if (perDocR2 > 32) (numHashes * 2, numHashes / 2, perDocR2)
    else (numHashes, numHashes / 2, perDocR2)
  }

  private val LshProbeMeta = "_graft_lshprobe_meta"

  /** [[jaccardPairsLsh]] with the banding parameters chosen PER CORPUS —
    * the production default and x07's declared path, from a base budget
    * of [[LshNumHashes]].
    *
    * On a natural-vocabulary corpus the measured r=2 collision mass is
    * tiny and the choice degenerates to the classic b = numHashes/2,
    * r = 2 — output identical to the fixed default, which is what
    * keeps the exact oracle hash-green at the correctness SF. On a
    * saturated corpus (scraped boilerplate, the one place near-dup
    * dedup matters most) it switches to r = 4 at a DOUBLED hash budget
    * (256 hashes / 64 bands — see [[chooseLshBands]] for the recall
    * arithmetic; the 128/32 first cut of this switch would have
    * silently dropped ≈ 13% of j≈0.5 borderline pairs), the measured
    * remedy class that flattened the 100× probe from 449 s at r=2 to
    * 16.4 s at 128/32 — 256/64 re-measured in SCALE.md's round-12 row.
    *
    * `probeIndexPath`: the banding decision at rest — the fourth auto
    * family under [[graft.engine.AtRest.statStamped]]'s discipline
    * (see [[simhashNearDupAuto]]). The memoized scalar is the chosen
    * HASH BUDGET: [[chooseLshBands]]' two layouts are (h, h/2) and
    * (2h, h/2) — the band count is h/2 either way, so the budget alone
    * reconstructs the full decision. */
  def jaccardPairsLshAuto(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5,
      probeIndexPath: Option[String] = None): DataFrame = {
    val (nh, bands) = probeIndexPath match {
      case Some(ip) =>
        val h = graft.engine.AtRest.statStamped(docs.sparkSession,
          ip, LshProbeMeta,
          CorpusId.stamp(docs, n, LshNumHashes, 1), "lshprobe") {
          chooseLshBands(docs, n, LshNumHashes)._1.toDouble
        }.toInt
        (h, LshNumHashes / 2)
      case None =>
        val (h, b, _) = chooseLshBands(docs, n, LshNumHashes)
        (h, b)
    }
    jaccardPairsLsh(docs, n, threshold, nh, bands)
  }

  /** TF-IDF weighted cosine near-dup pairs with the WEIGHTED prefix
    * filter (Bayardo et al., "Scaling Up All Pairs Similarity Search",
    * WWW'07 §3 — the weighted analog of [[jaccardPairsPrefix]]'s set
    * filter): two docs sharing rare terms score high even when their
    * boilerplate differs, which n-gram Jaccard misses.
    *
    * Terms are word `n`-gram shingle OCCURRENCES (multiplicity kept —
    * tf of a repeated shingle rises, unlike x06's set semantics);
    * `n = 1` degenerates to plain unigram TF-IDF. The default n = 3
    * matches x06: the weighted and set-Jaccard near-dup paths then rank
    * the SAME shingle space, and the prefix filter has idf spread to
    * work with — unigram term spaces saturate (every doc shares most
    * words), which makes all-pairs cosine output itself near-quadratic
    * and no exact algorithm sublinear in its own output.
    *
    * Candidate generation indexes only each doc's PREFIX — its terms in
    * rarest-first order (df asc) up to the point where the remaining
    * suffix's L2 mass (on unit-normalized weights) drops below the
    * threshold — and equi-joins every doc's FULL term list against that
    * prefix index. Lossless by Cauchy-Schwarz: if every shared term of a
    * qualifying pair sat in both suffixes, then
    * cos(a,b) = Σ_shared w'a·w'b ≤ min(‖sfx_a‖₂, ‖sfx_b‖₂) < t —
    * contradiction, so some shared term lies in at least one prefix and
    * the full×prefix join emits the pair. The filter is what kills the
    * Σ_term df² blow-up of a naive term join: a term in half the corpus
    * has small idf weight, lands in the un-indexed suffix of nearly every
    * doc, and expands ~df·df_prefix ≈ 0 candidates instead of df²/4.
    * (idf = 0 corpus-saturating terms are additionally dropped outright —
    * zero weight contributes zero to every dot product.)
    *
    * The prefix cut runs on exact double arithmetic with a 1e-3 margin
    * under the threshold, absorbing the 6-dp round-then-sum quantization
    * of the verify stage, so the output is bit-identical to the
    * unfiltered join. Verify is candidate-bounded: pairs join back to
    * their shared terms and the dot/norm sums use round-then-
    * DECIMAL(38,12) (the repo-wide exact-sum contract).
    */
  def tfidfCosinePairs(docs: DataFrame, threshold: Double,
      n: Int = 3, maxDf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(threshold > 0 && threshold <= 1,
      s"cosine threshold must be in (0, 1], got $threshold")
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(maxDf.forall(_ >= 1), s"maxDf must be >= 1: $maxDf")
    // r20: spread narrow scans before tokenizing (see Spread.cpuHeavy)
    val docsSpread = graft.engine.Spread.cpuHeavy(docs)
    val occurrences =
      if (n == 1)
        docsSpread
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      else
        docsSpread.select(col("doc_id"), tokens(col("text")).as("ws"))
          // token-count form of the empty filter, for the same
          // pushdown reason as [[shingled]]
          .filter(size(col("ws")) >= n)
          .select(col("doc_id"),
            explode(TextAnalysis.shingleOccurrences(col("ws"), n))
              .as("term"))
    val tf = occurrences
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // maxDf is the x41-style APPROXIMATION hatch for saturated term
    // spaces (constant background similarity — see SCALE.md's 100×
    // analysis): terms hotter than the cap drop from weights AND norms,
    // so cosines shift slightly (unlike the lossless prefix filter).
    // Hot terms are boilerplate with near-zero idf weight, so the shift
    // is small where it matters; measured time/recall in SCALE.md.
    val dfreqAll = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dfreq = maxDf.map(c => dfreqAll.filter(col("df") <= c))
      .getOrElse(dfreqAll)
    // materialized once: nrm, the prefix cut, the probe side, and the
    // pair verify all reuse this relation — the one-shot DAG would
    // re-tokenize the corpus five times otherwise
    val w = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("df"),
        round(col("tf") *
          round(log(col("n_docs").cast(DoubleType) / col("df")), 6), 6)
          .as("w"))
      .filter(col("w") > 0)
      .materialized
    val nrm = w.groupBy(col("doc_id"))
      .agg(round(sqrt(
        sum(round(col("w") * col("w"), 6).cast(DecimalType(38, 12)))
          .cast(DoubleType)), 6).as("nrm"))
      .materialized
    // prefix cut: per doc, walk terms rarest-first (hot terms sort last
    // and absorb the un-indexed suffix budget — their idf-shrunk weights
    // are exactly the small ones); index a term iff the normalized mass
    // strictly before it is < 1 − teff², which leaves the suffix with
    // ‖sfx‖₂ ≤ teff < t. teff's 1e-3 margin keeps the cut lossless
    // against the verify's 6-dp quantization.
    val teff = math.max(0.0, threshold - 1e-3)
    val ord = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("term"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = w.join(nrm, "doc_id")
      .withColumn("wn2",
        (col("w") / col("nrm")) * (col("w") / col("nrm")))
      .withColumn("cumBefore",
        coalesce(sum(col("wn2")).over(ord), lit(0.0)))
      .filter(col("cumBefore") < lit(1.0 - teff * teff))
      .select(col("term"), col("doc_id"))
    // candidates: FULL term list × prefix index. Orientation-normalize
    // (a qualifying pair may surface as (a,b) or (b,a) depending on
    // whose prefix held the shared term) and distinct before the verify.
    val candidates = w.select(col("term"), col("doc_id").as("pa"))
      .join(prefix.select(col("term"), col("doc_id").as("pb")), Seq("term"))
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("da"),
        greatest(col("pa"), col("pb")).as("db"))
      .distinct()
    // verify: candidate-bounded — re-join each pair to its shared terms
    // and compute the exact rounded dot product
    candidates
      .join(w.select(col("doc_id").as("da"), col("term"),
        col("w").as("wa")), Seq("da"))
      .join(w.select(col("doc_id").as("db"), col("term"),
        col("w").as("wb")), Seq("db", "term"))
      .groupBy(col("da"), col("db"))
      .agg(sum(round(col("wa") * col("wb"), 6).cast(DecimalType(38, 12)))
        .cast(DoubleType).as("dot"))
      .join(nrm.select(col("doc_id").as("da"), col("nrm").as("na")), "da")
      .join(nrm.select(col("doc_id").as("db"), col("nrm").as("nb")), "db")
      // cosine is ≤ 1 mathematically; the round-then-sum quantization
      // of dot vs norms can leak ±1e-6 past it, so clamp — identical
      // docs must read exactly 1.0 in every engine
      .select(col("da"), col("db"),
        least(lit(1.0), round(col("dot") / (col("na") * col("nb")), 6))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SimHash near-dup pairs by Hamming radius via BLOCK-COMBINATION keys
    * (Manku, Jain & Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW'07 §3's table-multiplication scheme): split the 60-bit
    * [[TextAnalysis.simhash]] into `blocks` equal slices and equi-join on
    * every C(blocks, blocks − radius) combination of (blocks − radius)
    * slices concatenated into one key. Two hashes within Hamming distance
    * `radius` differ in at most `radius` blocks, so at least
    * blocks − radius blocks match exactly (pigeonhole) — and the
    * combination made of those untouched blocks collides, so the join
    * finds EVERY qualifying pair. Exact, not probabilistic (unlike
    * MinHash-LSH, whose verify step decides membership).
    *
    * The block count buys key width: the defaults (radius 3, blocks 6)
    * join on C(6,3) = 20 combinations of 30-bit keys — 2^30 buckets, so
    * expected random-collision mass is ~20·N²/2^30 vs the naive
    * 1-block-per-key parametrization's 4·N²/2^15 (blocks = 4, 15-bit
    * keys): ~2⁄3 · 2^15 ≈ 22,000× fewer candidates for 5× the index
    * rows — the trade that keeps the verify linear-ish at web scale.
    * `blocks = radius + 1` degenerates to the single-slice banding
    * (C(r+1, 1) = r+1 one-block keys) for tiny corpora where index size
    * matters more than collision mass. The verify is one
    * `bit_count(xor)` per candidate; only 8-byte fingerprints ever
    * shuffle, never text.
    */
  def simhashNearDup(docs: DataFrame, radius: Int = 3,
      blocks: Int = 6): DataFrame = {
    require(radius < blocks,
      s"pigeonhole exactness needs radius < blocks, got $radius >= $blocks")
    require(60 % blocks == 0, s"blocks must divide 60, got $blocks")
    val blockBits = 60 / blocks
    val mask = (1L << blockBits) - 1
    val keep = blocks - radius
    // combination table is driver-side combinatorics over block INDICES
    // (≤ C(6,3) = 20 entries) — corpus-independent, never collected data
    val combos = (0 until blocks).combinations(keep).toSeq.zipWithIndex
    // r20: the per-doc fingerprint (tokenize + hash60 per token) was
    // measured serializing on 1 task over the single-row-group scan
    val sh = graft.engine.Spread.cpuHeavy(docs)
      .select(col("doc_id"), simhash(col("text")).as("sh"))
    def blockVal(j: Int) =
      shiftright(col("sh"), j * blockBits).bitwiseAND(lit(mask))
    val keyed = sh.select(col("doc_id"), col("sh"),
      explode(array(combos.map { case (idxs, cid) =>
        // concatenate the kept blocks into one ≤ 60-bit long key
        val kv = idxs.foldLeft(lit(0L).cast("long"): org.apache.spark.sql.Column) {
          (acc, j) => shiftleft(acc, blockBits).bitwiseOR(blockVal(j))
        }
        struct(lit(cid).as("cid"), kv.as("kv"))
      }: _*)).as("c"))
      .select(col("doc_id"), col("sh"), col("c.cid").as("cid"),
        col("c.kv").as("kv"))
    val a = keyed.select(col("doc_id").as("da"), col("sh").as("sha"),
      col("cid"), col("kv"))
    val b = keyed.select(col("doc_id").as("db"), col("sh").as("shb"),
      col("cid"), col("kv"))
    a.join(b, Seq("cid", "kv"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("sha"), col("shb"))
      .distinct()
      .select(col("da"), col("db"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
      .filter(col("hamming") <= radius)
  }

  /** Measured expected SimHash block-combination candidate mass PER
    * DOCUMENT at the 60-bit default — [[estimateBandCollisionsPerDoc]]'s
    * discipline applied to the x82 family: build the ACTUAL C(blocks,
    * blocks−radius) combo keys over a deterministic hash-ordered
    * `sampleSize`-doc sample, count the sample's collision pairs
    * Σ_key df·(df−1)/2 exactly, extrapolate by the pair-mass scaling
    * (mass_full ≈ mass_sample·(N/s)², per-doc = mass_sample·N/s²). This
    * is the saturation dial the 60-bit fingerprint compresses on
    * bounded-vocabulary corpora (SCALE.md x82: second-decade exp 1.46):
    * concentrated Hamming distances show up directly as combo-key
    * collision mass, which is exactly what the probe histograms. Fully
    * engine-portable (md5 sample order, md5-derived fingerprints,
    * integer block packing), so x132's oracle replicates the statistic
    * and the auto decision bit for bit.
    */
  private[graft] def estimateSimhashCollisionsPerDoc(docs: DataFrame,
      radius: Int = 3, blocks: Int = 6,
      sampleSize: Int = 1024): Double = {
    require(radius < blocks && 60 % blocks == 0,
      s"bad simhash probe geometry: radius=$radius blocks=$blocks")
    val nDocs = docs.count().toDouble
    if (nDocs < 2) return 0.0
    val blockBits = 60 / blocks
    val mask = (1L << blockBits) - 1
    val combos = (0 until blocks).combinations(blocks - radius)
      .toSeq.zipWithIndex
    // token-empty docs are excluded from the probe on BOTH engines:
    // their fingerprint is an engine-edge-case (zero tokens) the
    // decision statistic must not hinge on
    val sample = docs
      .filter(length(trim(col("text"))) > 0)
      .orderBy(md5(concat(lit("shw:"), col("doc_id").cast("string"))),
        col("doc_id"))
      .limit(sampleSize)
    val sh = sample.select(simhash(col("text")).as("sh")).materialized
    val s = sh.count().toDouble
    if (s < 2) return 0.0
    def blockVal(j: Int) =
      shiftright(col("sh"), j * blockBits).bitwiseAND(lit(mask))
    val row = sh.select(
      explode(array(combos.map { case (idxs, cid) =>
        val kv = idxs.foldLeft(lit(0L).cast("long"):
            org.apache.spark.sql.Column) {
          (acc, j) => shiftleft(acc, blockBits).bitwiseOR(blockVal(j))
        }
        struct(lit(cid).as("cid"), kv.as("kv"))
      }: _*)).as("c"))
      .groupBy(col("c.cid"), col("c.kv")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1)).as("mass2"))
      .collect()(0)
    val mass = (if (row.isNullAt(0)) 0.0 else row.getLong(0).toDouble) / 2.0
    mass * nDocs / (s * s)
  }

  /** [[simhashNearDup]] with the fingerprint WIDTH chosen per corpus —
    * the auto story that completes the x82/x117 family the way
    * [[jaccardPairsLshAuto]] completed x07's: 60 bits (the cheap
    * default, C(6,3)=20 combos) while the measured combo-key collision
    * mass stays linear-bounded (≤ 32 expected candidates/doc, the same
    * cutoff as [[chooseLshBands]] — past it the candidate shortlist
    * grows ~n² and the verify join dominates), 120 bits
    * ([[simhashNearDupWide]], the measured saturation remedy: 100×
    * 118.8 → 20.7 s) once it exceeds that. The probe alone decides.
    * NOTE the width changes the declared SEMANTICS (radius
    * is a budget on the chosen fingerprint's Hamming distance), so
    * unlike x07 the oracle replicates the probe + decision itself —
    * which is why every probe ingredient is engine-portable.
    */
  private val SimhashProbeMeta = "_graft_shprobe_meta"

  /** `probeIndexPath` puts the width-decision statistic at rest
    * ([[containmentCandStatAtRest]]'s discipline — value-identical, so
    * the decision and x132's hash cannot move; a corpus change
    * re-probes): repeated auto calls over a static corpus skip the
    * 1024-doc sample fingerprint pass entirely.
    */
  def simhashNearDupAuto(docs: DataFrame, radius: Int = 3,
      probeIndexPath: Option[String] = None): DataFrame = {
    val est = probeIndexPath match {
      case Some(ip) =>
        graft.engine.AtRest.statStamped(docs.sparkSession, ip,
          SimhashProbeMeta,
          CorpusId.stamp(docs, radius, 1), "shprobe") {
          estimateSimhashCollisionsPerDoc(docs, radius)
        }
      case None => estimateSimhashCollisionsPerDoc(docs, radius)
    }
    if (est > 32) simhashNearDupWide(docs, radius)
    else simhashNearDup(docs, radius)
  }

  /** Measured expected winnow-fingerprint candidate mass PER DOCUMENT —
    * [[estimateSimhashCollisionsPerDoc]]'s discipline applied to the
    * x41 family: winnow a deterministic md5-ordered `sampleSize`-doc
    * sample (docs long enough to carry ≥1 fingerprint), count the
    * sample's inverted-index collision pairs Σ_fp df·(df−1)/2 exactly,
    * extrapolate per-doc by the pair-mass scaling (mass·N/s²). This is
    * the Σdf² saturation dial directly: the 100× GenCorpus corpus whose
    * uncapped winnow join extrapolates to ~30–40 min (SCALE.md, Σdf² =
    * 23.7·10⁹) reads orders of magnitude over the cutoff here for the
    * price of a 1024-doc winnow. Engine-portable end to end (md5 sample
    * order, the polynomial rolling hash the oracle already replicates
    * relationally), so x133's oracle re-derives the statistic and the
    * decision bit for bit.
    */
  private[graft] def estimateWinnowCollisionsPerDoc(docs: DataFrame,
      k: Int = 16, w: Int = 8, sampleSize: Int = 1024): Double = {
    val eligible = docs.filter(length(col("text")) >= k + w - 1)
    val nDocs = eligible.count().toDouble
    if (nDocs < 2) return 0.0
    val sample = eligible
      .orderBy(md5(concat(lit("wac:"), col("doc_id").cast("string"))),
        col("doc_id"))
      .limit(sampleSize)
    val fps = sample.select(
      explode(array_distinct(
        graft.functions.RollingWinnow.rolling_winnow(col("text"), k, w)))
        .as("fp")).materialized
    val s = math.min(nDocs, sampleSize.toDouble)
    val row = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1)).as("m2"))
      .collect()(0)
    val mass = (if (row.isNullAt(0)) 0.0 else row.getLong(0).toDouble) / 2.0
    mass * nDocs / (s * s)
  }

  /** [[substringOverlapPairs]] with the boilerplate df cap chosen per
    * corpus — the auto story completing the x41 family the way
    * [[jaccardPairsLshAuto]] completed x07's and [[simhashNearDupAuto]]
    * x82's: exact (no cap) while the measured winnow collision mass
    * stays linear-bounded (≤ 32 expected candidates/doc, the family
    * cutoff), the measured df ≤ 100 cap (SCALE.md round 11: 20.9 s at
    * 100× where uncapped extrapolates to ~30–40 min; dropped pairs ride
    * boilerplate-hot fingerprints by construction) once it exceeds
    * that. The probe alone decides.
    * The cap changes declared semantics (n_shared stops counting capped
    * fingerprints), so the oracle replicates the probe + decision
    * themselves — every ingredient is engine-portable.
    */
  private val WinnowProbeMeta = "_graft_wnprobe_meta"

  /** `probeIndexPath`: the cap-decision statistic at rest — see
    * [[simhashNearDupAuto]]'s parameter of the same name. */
  def substringOverlapAuto(docs: DataFrame, k: Int = 16, w: Int = 8,
      minShared: Long = 10,
      probeIndexPath: Option[String] = None): DataFrame = {
    val est = probeIndexPath match {
      case Some(ip) =>
        graft.engine.AtRest.statStamped(docs.sparkSession, ip,
          WinnowProbeMeta,
          CorpusId.stamp(docs, k, w, 1), "wnprobe") {
          estimateWinnowCollisionsPerDoc(docs, k, w)
        }
      case None => estimateWinnowCollisionsPerDoc(docs, k, w)
    }
    val cap = if (est > 32) Some(100L) else None
    substringOverlapPairs(docs, k, w, minShared, cap)
  }

  /** [[simhashNearDup]] over a WIDE (120-bit) fingerprint — the
    * saturation lever the 60-bit scheme lacks. As a corpus grows on a
    * bounded vocabulary, 60-bit simhashes concentrate (every doc votes
    * the same background tokens), Hamming distances compress, and the
    * ≤ radius candidate mass inflates even though the block-combination
    * keys are doing their job (measured exp 1.46 in the 10→100× decade,
    * SCALE.md). A second INDEPENDENT hash family — the same tokens under
    * a salted md5 ([[TextAnalysis.simhashSalted]]) — doubles the
    * fingerprint to (sh1, sh2): near-identical docs still agree on both
    * words, but background pairs must now survive a 120-bit Hamming
    * test, re-spreading the distance distribution.
    *
    * The Manku key scheme scales with it: `blocks` slices of
    * 120/blocks bits, equi-join on every C(blocks, blocks − radius)
    * combination of kept blocks (pigeonhole-exact as in
    * [[simhashNearDup]]). The default radius 3 over 8 blocks joins on
    * C(8,5) = 56 combinations of 75-bit keys — a 2^75 key space, so
    * expected random-collision mass is ~56·N²/2^75 vs the 60-bit
    * default's 20·N²/2^30: ~10^10× fewer background collisions for
    * 2.8× the index rows. Keys over 64 bits pack into TWO longs
    * (kh, kl) and the join stays a plain exact equi-join — no hashed
    * key, no false candidates beyond the blocks themselves. Verify is
    * bit_count over both words; only 16-byte fingerprints shuffle.
    *
    * Note the CONTRACT CHANGE vs [[simhashNearDup]]: `radius` is a
    * budget on the 120-bit distance, a strictly finer similarity test
    * than the same radius on 60 bits (output pairs are a subset in
    * expectation, not identical — the wide fingerprint exists to reject
    * background pairs the narrow one cannot tell apart).
    */
  def simhashNearDupWide(docs: DataFrame, radius: Int = 3,
      blocks: Int = 8): DataFrame = {
    require(radius < blocks,
      s"pigeonhole exactness needs radius < blocks, got $radius >= $blocks")
    require(120 % blocks == 0, s"blocks must divide 120, got $blocks")
    val blockBits = 120 / blocks
    require(60 % blockBits == 0,
      s"block width $blockBits must align to the 60-bit fingerprint words")
    val mask = (1L << blockBits) - 1
    val perWord = 60 / blockBits
    val keep = blocks - radius
    require((keep - keep / 2) * blockBits <= 63,
      s"packed key half exceeds 63 bits: keep=$keep x $blockBits")
    val combos = (0 until blocks).combinations(keep).toSeq.zipWithIndex
    // r20: same 1-task fingerprint serialization as simhashNearDup
    val sh = graft.engine.Spread.cpuHeavy(docs).select(col("doc_id"),
      simhash(col("text")).as("sh1"),
      graft.ext.TextAnalysis.simhashSalted(col("text"), "w2:").as("sh2"))
    def blockVal(j: Int): org.apache.spark.sql.Column = {
      val word = if (j < perWord) col("sh1") else col("sh2")
      shiftright(word, (j % perWord) * blockBits).bitwiseAND(lit(mask))
    }
    def pack(ix: Seq[Int]): org.apache.spark.sql.Column =
      ix.foldLeft(lit(0L).cast("long"): org.apache.spark.sql.Column) {
        (acc, j) => shiftleft(acc, blockBits).bitwiseOR(blockVal(j))
      }
    val keyed = sh.select(col("doc_id"), col("sh1"), col("sh2"),
      explode(array(combos.map { case (idxs, cid) =>
        val (hiIdx, loIdx) = idxs.splitAt(idxs.size / 2)
        struct(lit(cid).as("cid"), pack(hiIdx).as("kh"), pack(loIdx).as("kl"))
      }: _*)).as("c"))
      .select(col("doc_id"), col("sh1"), col("sh2"),
        col("c.cid").as("cid"), col("c.kh").as("kh"), col("c.kl").as("kl"))
    val a = keyed.select(col("doc_id").as("da"), col("sh1").as("s1a"),
      col("sh2").as("s2a"), col("cid"), col("kh"), col("kl"))
    val b = keyed.select(col("doc_id").as("db"), col("sh1").as("s1b"),
      col("sh2").as("s2b"), col("cid"), col("kh"), col("kl"))
    a.join(b, Seq("cid", "kh", "kl"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("s1a"), col("s2a"),
        col("s1b"), col("s2b"))
      .distinct()
      .select(col("da"), col("db"),
        (bit_count(col("s1a").bitwiseXOR(col("s1b"))) +
          bit_count(col("s2a").bitwiseXOR(col("s2b")))).as("hamming"))
      .filter(col("hamming") <= radius)
  }

  /** Per-source dedup savings ledger — the "what would dedup buy" price
    * sheet a pipeline reads BEFORE committing to a corpus-wide rewrite:
    * for each source, the doc and token mass sitting in non-representative
    * exact copies ([[exact]]'s min-id rule) and in non-representative
    * near-dup cluster members ([[dedupClusters]] over the x06 pair graph,
    * doc_id ≠ cluster — exact dups are a subset of these since identical
    * docs share every shingle). The fuzzy fraction is the headline number
    * (x64's mixture planner consumes post-dedup token mass, so this IS
    * the correction factor per source).
    *
    * Scale shape: the pair graph + CC dominate (their own documented
    * bounds); this adds one fingerprint agg, one broadcast-size join of
    * per-fp representatives, and one per-source rollup.
    */
  def dedupSavings(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      tokenCount(col("text")).as("n_toks"), fingerprint(col("text")).as("fp"))
    val keep = base.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val flagged = base.join(keep, "fp")
      .select(col("doc_id"), col("source"), col("n_toks"),
        (col("doc_id") =!= col("keep_id")).as("exact_dup"))
    val clusters = cachedClusters(docs, n, threshold)
    flagged.join(clusters, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("exact_dup"), 1L).otherwise(0L)).as("exact_dup_docs"),
        sum(when(col("exact_dup"), col("n_toks")).otherwise(0L))
          .as("exact_dup_tokens"),
        sum(when(col("doc_id") =!= col("cluster"), 1L).otherwise(0L))
          .as("fuzzy_dup_docs"),
        sum(when(col("doc_id") =!= col("cluster"), col("n_toks"))
          .otherwise(0L)).as("fuzzy_dup_tokens"))
      .withColumn("fuzzy_savings",
        round(col("fuzzy_dup_tokens").cast(DoubleType) / col("n_tokens"), 6))
      .orderBy(col("source"))
  }

  /** Template/boilerplate prefix detector: per source, the share of
    * documents whose first-`prefixTokens`-token fingerprint repeats
    * within the source — scraped boilerplate (cookie banners, forum
    * headers, license blurbs) shows up as a few prefix groups holding
    * most of a source's docs long before any pairwise dedup runs. The
    * cheap triage read BEFORE x49/x50's exact-substring machinery is
    * pointed at a source.
    *
    * Scale shape: one map pass to a 16-byte md5 prefix fingerprint (the
    * [[exact]] discipline — only fingerprints shuffle), one
    * (source, fp) partial-agg count, one sources-bounded rollup.
    */
  def templatePrefixRate(docs: DataFrame, prefixTokens: Int = 8)
      : DataFrame = {
    import graft.ext.TextAnalysis.tokens
    val fp = docs.select(col("source"),
      md5(array_join(slice(tokens(col("text")), 1, prefixTokens), " "))
        .as("pfp"))
    fp.groupBy(col("source"), col("pfp")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_prefixes"),
        sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("n_templated"),
        round(sum(when(col("n") >= 2, col("n")).otherwise(0L))
          .cast(DoubleType) / sum(col("n")), 6).as("template_rate"))
  }

  /** ASYMMETRIC shingle-containment pairs: c(A,B) = |S(A)∩S(B)| /
    * min(|S(A)|, |S(B)|) ≥ `threshold` — the snippet-in-document
    * detector symmetric Jaccard structurally misses. A 30-token quote
    * embedded verbatim in a 500-token page has j = inter/union ≈ 0.06
    * (the union is dominated by the big doc) but containment 1.0; for
    * syndicated snippets, quote farms, and doc-inside-doc scrapes the
    * containment join, not the Jaccard join, is the dedup primitive
    * (Broder's resemblance/containment pair, 1997). Every qualifying
    * Jaccard pair also qualifies here (inter/min ≥ inter/union), so
    * this is a strict superset signal at the same threshold.
    *
    * Same two-stage exactness discipline as [[jaccardPairsIndexHashed]]:
    * hashed inverted-index candidates (xxhash64 keys — the quadratic
    * join compares longs) over-count only, the exact array verify on
    * the ~candidate-bounded join-back decides. NOTE the size-ratio
    * prune is deliberately ABSENT: containment has no min/max-size
    * bound by design (the whole point is catching extreme size
    * mismatches), so candidate mass is the full Σ_shingle df² of the
    * inverted index. At saturation the measured hatches are x06's:
    * the df cap (boilerplate shingles never discriminate containment
    * either) or a smaller-side prefix filter — for c ≥ t a doc's
    * |A|−⌈t·|A|⌉+1 rarest shingles must hit any container (Chaudhuri
    * et al. ICDE'06's overlap prefix applied to the min() denominator).
    */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Candidate generation is MIN-SIDE-PREFIX against the full index,
    // not the plain Σdf² self-join (which melted at the saturated 100×
    // probe — SCALE.md round 12): C(A,B) = |A∩B|/min(|A|,|B|) ≥ t
    // bounds the MIN side's non-shared mass, so if B misses all of
    // min-side M's first |M| − ⌈t·|M|⌉ + 1 elements in ANY shared
    // canonical order then |A∩B| ≤ ⌈t·|M|⌉ − 1 < t·|M| — prefix(min) ⋈
    // full(other) is lossless (Chaudhuri et al. ICDE'06, adapted to the
    // asymmetric containment denominator; the Jaccard form is
    // [[prefixCollisions]]). At t = 0.9 the probe side shrinks ~10×,
    // and rarest-first canonical order keeps corpus-hot shingles out of
    // prefixes, so candidate mass is Σ_key prefdf·df, not Σ_key df².
    // Each unordered pair is generated from its unique min side (size,
    // then doc_id on ties — the tied case is symmetric so either
    // prefix finding it suffices). A PPJoin-style positional filter is
    // deliberately NOT stacked on top: the one-sided bound
    // 1 + |M| − pos ≥ t·|M| is implied by the prefix predicate itself
    // (pos ≤ |M| − ⌈t·|M|⌉ + 1 rearranges to exactly that), and the
    // genuine two-sided PPJoin filter needs the partner's collision
    // position too — extra state the exact verify below makes redundant.
    // Hashing keys after ordering only ADDS candidates; the exact
    // verify below decides membership, so output is bit-identical to
    // the plain-index form (ExtSpec asserts it).
    val sgh = shingled(docs, n)
      .withColumn("sgh", transform(col("sg"), s => xxhash64(s)))
      .materialized
    val inv = sgh.select(col("doc_id"), size(col("sg")).as("sz"),
      explode(col("sg")).as("s"))
      .withColumn("sh", xxhash64(col("s")))
    val freq = inv.groupBy(col("sh")).agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("f"), col("sh"), col("s"))
    val prefix = inv.join(freq, "sh")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("sh"), col("doc_id").as("dp"), col("sz").as("szp"))
    val full = inv.select(col("sh"), col("doc_id").as("df_"),
      col("sz").as("szf"))
    val cand = prefix.join(full, Seq("sh"))
      .filter(col("szp") < col("szf") ||
        (col("szp") === col("szf") && col("dp") < col("df_")))
      .select(least(col("dp"), col("df_")).as("da"),
        greatest(col("dp"), col("df_")).as("db"))
      .distinct()
    // two-stage verify, [[jaccardPairsPrefix]]'s pattern: the candidate
    // bulk is decided on 8-byte hashed arrays (collisions inflate the
    // intersection, so the filter keeps a superset), then the
    // true-pair-scale survivors re-verify on the real shingle strings —
    // output bit-identical to the plain-index form even under a hash
    // collision
    val survivors = cand
      .join(sgh.select(col("doc_id").as("da"), col("sgh").as("ha")), "da")
      .join(sgh.select(col("doc_id").as("db"), col("sgh").as("hb")), "db")
      .filter(size(array_intersect(col("ha"), col("hb"))).cast(DoubleType) /
        least(size(col("ha")), size(col("hb"))) >= threshold - 1e-6)
      .select(col("da"), col("db"))
    survivors
      .join(sgh.select(col("doc_id").as("da"), col("sg").as("sga")), "da")
      .join(sgh.select(col("doc_id").as("db"), col("sg").as("sgb")), "db")
      .select(col("da"), col("db"),
        round(size(array_intersect(col("sga"), col("sgb"))).cast(DoubleType) /
          least(size(col("sga")), size(col("sgb"))), 6).as("cont"))
      .filter(col("cont") >= threshold)
  }

  /** CONTENT-DEFINED chunks per document: the token stream split at
    * positions whose token hashes to 0 mod `p` (the LBFS/rsync anchor
    * idea — Muthitacharoen et al., SOSP'01 — at token granularity), so
    * chunk boundaries are ALIGNMENT-INVARIANT: a span shared verbatim
    * by two documents yields byte-identical interior chunks in both,
    * regardless of where in each document it sits. Fixed-stride
    * chunking (x45) cannot do that — an embedded snippet shifts every
    * downstream boundary — which is exactly why the snippet-in-doc
    * detector built on THESE chunks ([[cdcContainmentPairs]]) scales
    * where the exact shingle-containment join (x123) melts. Returns
    * (doc_id, seg, fp) — md5 chunk fingerprints; callers derive their
    * own per-doc counts.
    *
    * Scale shape: one tokenize pass + a per-DOCUMENT running-sum window
    * (partitioned by doc_id — no global sort) + one md5 per chunk.
    */
  private[graft] def cdcChunks(docs: DataFrame, p: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.filter(col("text").rlike("\\S"))
      .select(col("doc_id"),
        posexplode(graft.ext.TextAnalysis.tokens(col("text")))
          .as(Seq("pos", "w")))
      .withColumn("b",
        when(graft.ext.TextAnalysis.hash60(col("w")) % p === 0, 1L)
          .otherwise(0L))
    val seg = tok.withColumn("seg",
      sum(col("b")).over(Window.partitionBy(col("doc_id"))
        .orderBy(col("pos"))))
    seg.groupBy(col("doc_id"), col("seg"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w")), " ")).as("fp"))
  }

  /** Snippet-in-document containment over CONTENT-DEFINED chunk
    * fingerprints — the production-scale remedy for [[containmentPairs]]
    * (x123), whose exact shingle-inverted-index join has intrinsically
    * ~n² candidate mass at vocabulary saturation (measured: prefix mass
    * ×119 at the 100× probe, SCALE.md round 12). Score: shared
    * distinct chunk fingerprints / the smaller side's fingerprint count
    * — the same min-denominator containment as x123, one level up: a
    * snippet embedded verbatim in a big page shares its interior CDC
    * chunks with the page, so min-side coverage approaches 1 while
    * symmetric Jaccard stays near 0.
    *
    * Why this scales where x123 cannot: the join key is a ~`p`-token
    * chunk fingerprint, not a 3-token shingle — its document frequency
    * is bounded by TRUE duplication (unrelated documents virtually
    * never share a multi-token chunk verbatim), not by the vocabulary,
    * so Σ_fp df² tracks the real dup mass and stays near-linear even on
    * corpora where every 3-shingle is corpus-hot. Boundary clipping
    * (the shared span's first/last partial chunks differ) is absorbed
    * by thresholds < 1.
    *
    * `maxDf` (default 100, the repo-wide hot-key constant) is
    * SEMANTICS-BEARING, not a lossy shortcut bolted on: a chunk shared
    * verbatim by more than `maxDf` documents is corpus boilerplate —
    * x135's ubiquity argument at chunk grain — and counting it toward
    * containment manufactures snippet-in-doc hits between unrelated
    * pages that merely carry the same footer. Hot chunks therefore
    * leave BOTH the shared count and the per-doc denominators
    * ("containment over discriminative chunks"); a document made
    * entirely of boilerplate has no discriminative chunks and drops
    * out. The cap is also what bounds the join at template saturation:
    * the UNCAPPED form ground past 18 minutes at the 100× probe —
    * where the corpus is wall-to-wall manufactured boilerplate, dup
    * mass ≈ n² is real and only the boilerplate/signal split makes the
    * question answerable (SCALE.md round 12). `maxDf = None` is the
    * exact-form hatch.
    */
  def cdcContainmentPairs(docs: DataFrame, p: Int = 8,
      threshold: Double = 0.5,
      maxDf: Option[Long] = Some(100L)): DataFrame =
    cdcPairsFromChunks(cdcChunks(docs, p)
      .select(col("doc_id"), col("fp")).distinct()
      .materialized, threshold, maxDf)

  /** The pair stage of [[cdcContainmentPairs]] over an ALREADY-CHUNKED
    * distinct (doc_id, fp) relation — factored out so the at-rest CDC
    * index ([[extendCdcIndex]]) can re-run it over persisted chunks
    * without re-tokenizing the corpus (chunking is per-document, so
    * chunks(base) ∪ chunks(batch) == chunks(base ∪ batch) exactly,
    * and the hot-chunk cap + per-doc denominators recompute over the
    * union — a chunk a new batch pushes past `maxDf` correctly LEAVES
    * every pair, old and new; incremental == from-scratch by
    * construction).
    */
  private[graft] def cdcPairsFromChunks(all: DataFrame,
      threshold: Double, maxDf: Option[Long]): DataFrame = {
    val fps = maxDf match {
      case Some(cap) =>
        val df = all.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        all.join(df.filter(col("df") <= cap).select(col("fp")), "fp")
      case None => all
    }
    val counts = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = fps.join(counts, "doc_id")
      .select(col("fp"), col("doc_id").as("da"), col("n").as("na"))
    val b = fps.join(counts, "doc_id")
      .select(col("fp"), col("doc_id").as("db"), col("n").as("nb"))
    a.join(b, Seq("fp"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .select(col("da"), col("db"),
        round(col("shared").cast(DoubleType) /
          least(col("na"), col("nb")), 6).as("cont"))
      .filter(col("cont") >= threshold)
  }

  /** Containment RECALL AUDIT — x136's discipline (the LSH recall
    * audit's shape) for the containment family: one plan
    * reporting how many exact shingle-containment pairs
    * ([[containmentPairs]] at `exactThreshold`) the production CDC
    * detector ([[cdcContainmentPairs]] at `cdcThreshold`) also
    * surfaces, as (n_exact, n_hit, recall). The two detectors answer
    * the same question at different grains (3-token shingles vs
    * ~p-token discriminative chunks), so recall here is a MEASURED
    * corpus property, not a tunable guarantee — pinning it in the
    * declared, oracle-backed surface makes a chunking or cap change
    * that silently drops snippet coverage hash-mismatch every round,
    * and gives the x141 auto-switch's CDC branch a standing,
    * continuously-benched quality number.
    */
  def containmentAudit(docs: DataFrame, n: Int = 3,
      exactThreshold: Double = 0.9, p: Int = 8,
      cdcThreshold: Double = 0.5): DataFrame = {
    val exact = containmentPairs(docs, n, exactThreshold)
      .select(col("da"), col("db"))
    val cdc = cdcContainmentPairs(docs, p, cdcThreshold)
      .select(col("da"), col("db")).withColumn("hit", lit(1L))
    exact.join(cdc, Seq("da", "db"), "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("n_exact"), col("n_hit"),
        round(col("n_hit").cast(DoubleType) / col("n_exact"), 6)
          .as("recall"))
  }

  private val CdcLayout = AtRest.Layout("_graft_cdc_meta",
    Seq(AtRest.Accreting("chunks")))

  /** The CDC containment artifacts AT REST — the containment family's
    * x116/x131 discipline: `path/chunks` persists the corpus's distinct
    * (doc_id, fp) chunk fingerprints (the expensive linear pass —
    * tokenize + per-doc anchor windows + one md5 per chunk) and
    * `path/pairs` the [[cdcContainmentPairs]] relation at the stamped
    * parameters, so downstream consumers and later extensions read
    * parquet instead of re-chunking the corpus.
    */
  def writeCdcIndex(docs: DataFrame, path: String, p: Int = 8,
      threshold: Double = 0.5, maxDf: Option[Long] = Some(100L)): Unit = {
    val chunks = cdcChunks(docs, p)
      .select(col("doc_id"), col("fp")).distinct().materialized
    chunks.write.mode("overwrite").parquet(s"$path/chunks")
    cdcPairsFromChunks(chunks, threshold, maxDf)
      .write.mode("overwrite").parquet(s"$path/pairs")
  }

  /** The CDC containment index family ([[writeCdcIndex]]). Its delta
    * CHUNKS THE BATCH ALONE (chunking is per-document, so
    * chunks(base) ∪ chunks(batch) == chunks(base ∪ batch) exactly —
    * content-defined boundaries never straddle documents), appends it to
    * the at-rest chunk relation, and re-runs the pair stage over the
    * skinny persisted chunks. The corpus is never re-tokenized: per
    * batch, the heavy linear pass is ∝ the batch, and the recomputed
    * pair join's mass is bounded by TRUE duplication (the capped-df
    * property that makes x140 near-linear at saturation). Recomputing
    * the cap + denominators over the union is SEMANTICS, not waste: a
    * chunk the new batch pushes past `maxDf` is corpus boilerplate as
    * of now, and must leave every pair — old and new — exactly as a
    * from-scratch build would drop it (incremental == from-scratch is
    * spec-asserted, and x142's oracle is the full-corpus chain).
    */
  private[graft] def cdcFamily(p: Int, threshold: Double,
      maxDf: Option[Long]) =
    AtRest.Family[Unit](CdcLayout, (_, _) => (),
      key = (docs, _) =>
        CorpusId.stamp(docs, p, threshold, maxDf.getOrElse(0L), 1),
      model = None,
      build = (docs, path, _) => writeCdcIndex(docs, path, p, threshold,
        maxDf),
      delta = (_, batch, path, _) => {
        val batchChunks = cdcChunks(batch, p)
          .select(col("doc_id"), col("fp")).distinct().materialized
        val all = AtRest.read(batch.sparkSession, path, "chunks")
          .unionByName(batchChunks)
        // pairs overwrite first (it only READS chunks — untouched at
        // this point), then the batch rows append to the chunk
        // relation; a crash between the two leaves a stampless dir and
        // the retry rebuilds cleanly
        cdcPairsFromChunks(all, threshold, maxDf)
          .write.mode("overwrite").parquet(s"$path/pairs")
        batchChunks.write.mode("append").parquet(s"$path/chunks")
      })

  /** [[writeCdcIndex]] behind the stamped build-or-reuse seam. */
  def ensureCdcIndex(docs: DataFrame, path: String, p: Int = 8,
      threshold: Double = 0.5, maxDf: Option[Long] = Some(100L),
      force: Boolean = false): Boolean =
    AtRest.ensure(cdcFamily(p, threshold, maxDf), docs, path, force)

  /** Incremental extension of an at-rest CDC containment index (see
    * [[cdcFamily]]); `unionView` as in [[extendDedupIndexLsh]].
    */
  def extendCdcIndex(baseDocs: DataFrame, newDocs: DataFrame,
      path: String, p: Int = 8, threshold: Double = 0.5,
      maxDf: Option[Long] = Some(100L),
      unionView: Option[DataFrame] = None): Boolean =
    AtRest.extend(cdcFamily(p, threshold, maxDf), baseDocs, newDocs, path,
      unionView)

  /** The at-rest containment pair relation of a [[writeCdcIndex]] dir. */
  def readCdcPairs(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = AtRest.read(spark, path, "pairs")

  private val DfLayout = AtRest.Layout("_graft_df_meta",
    Seq(AtRest.Accreting("df", merge = Some(mergeDf))))

  /** One corpus pass of PARTIAL shingle document frequencies — the
    * map-side-combined (shingle, count) aggregate both
    * [[graft.ext.TextAnalysis.boilerplateStats]] and the x141
    * containment probe pay per invocation. Persisting it is what the
    * at-rest form amortizes.
    */
  private def shingleDfPartial(docs: DataFrame, n: Int): DataFrame =
    shingled(docs, n).select(explode(col("sg")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("f"))

  /** Sum (s, f) shards per shingle: the df relation's read and its
    * compaction.
    */
  private def mergeDf(shards: DataFrame): DataFrame =
    shards.groupBy(col("s")).agg(sum(col("f")).as("f"))

  /** The corpus shingle document-frequency relation AT REST — the
    * x141/x135 shared input behind the stamp seam, so repeated
    * [[containmentAuto]] probes over a static corpus pay a
    * vocabulary-bounded parquet scan instead of re-shingling the
    * corpus (~20 s of the 27.7 s 100× auto point was this one
    * re-derived relation, SCALE.md round 13). Stored under `path/df`
    * as MERGEABLE partial counts: an extension appends ONLY the
    * batch's own (s, f) rows — per-doc shingling makes
    * df(base ∪ batch) = df(base) + df(batch) exactly, so the base is
    * never re-scanned or rewritten — and [[readShingleDf]] sums the
    * shards (vocabulary-bounded, the relation's own cost class).
    */
  def writeShingleDfIndex(docs: DataFrame, path: String,
      n: Int = 3): Unit =
    shingleDfPartial(docs, n).write.mode("overwrite")
      .parquet(s"$path/df")

  /** The shingle-df sidecar family ([[writeShingleDfIndex]]): the delta
    * shingles the batch ALONE and appends its partial counts as a new
    * shard — work ∝ the batch, the base untouched on disk (spec asserts
    * file-grain invariance). Its compaction MERGES the shards: the
    * summed relation is content-equivalent (df is a sum), so after
    * thousands of streaming batches readers sum one vocabulary-sized
    * relation instead of thousands of shards.
    */
  private[graft] def dfFamily(n: Int = 3) =
    AtRest.Family[Unit](DfLayout, (_, _) => (),
      key = (docs, _) => CorpusId.stamp(docs, n, 1),
      model = None,
      build = (docs, path, _) => writeShingleDfIndex(docs, path, n),
      delta = (_, batch, path, _) =>
        shingleDfPartial(batch, n).write.mode("append").parquet(s"$path/df"))

  /** [[writeShingleDfIndex]] behind the stamped build-or-reuse seam. */
  def ensureShingleDfIndex(docs: DataFrame, path: String, n: Int = 3,
      force: Boolean = false): Boolean =
    AtRest.ensure(dfFamily(n), docs, path, force)

  /** Incremental extension of an at-rest [[writeShingleDfIndex]] (see
    * [[dfFamily]]). Returns true when any build ran.
    */
  def extendShingleDfIndex(baseDocs: DataFrame, newDocs: DataFrame,
      path: String, n: Int = 3,
      unionView: Option[DataFrame] = None): Boolean =
    AtRest.extend(dfFamily(n), baseDocs, newDocs, path, unionView)

  /** The merged (s, f) document-frequency relation of a
    * [[writeShingleDfIndex]] dir — shards summed per shingle, exactly
    * the live [[shingleDfPartial]] values over the stamped corpus.
    */
  def readShingleDf(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = mergeDf(AtRest.read(spark, path, "df"))

  /** Compact an at-rest [[writeShingleDfIndex]]: rewrite `path/df` as
    * the single pre-merged relation under the SAME stamp (stamp off
    * during the rewrite; a crash leaves a stampless dir and the next
    * ensure rebuilds). No-op when the stamp is absent. Returns true
    * when a compaction ran.
    */
  def compactShingleDfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = AtRest.compact(DfLayout, spark, path, 0)

  /** Compact the exact dedup index's accreted `prefix` relation (its
    * `pairs`/`clusters` are OVERWRITTEN whole per extension and never
    * accrete) to ⌈bytes / 128 MB⌉ files, rows unchanged. No-op —
    * lock-free, stamp untouched — at or under `maxShards` files;
    * otherwise the usual lease/stamp mutation window. Returns true when
    * a compaction ran.
    */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxShards: Int = 256): Boolean =
    AtRest.compact(DedupLayout, spark, path, maxShards)

  /** [[compactDedupIndex]] for the LSH index's accreted `bands`. */
  def compactDedupIndexLsh(spark: org.apache.spark.sql.SparkSession,
      path: String, maxShards: Int = 256): Boolean =
    AtRest.compact(DedupLshLayout, spark, path, maxShards)

  /** [[compactDedupIndex]] for the CDC index's accreted `chunks`. */
  def compactCdcIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxShards: Int = 256): Boolean =
    AtRest.compact(CdcLayout, spark, path, maxShards)

  private val ContProbeMeta = "_graft_contprobe_meta"

  /** The containment decision STATISTIC at rest — the full
    * amortization of [[containmentAuto]]'s probe: the measured
    * cand/doc estimate is a pure function of (corpus, n, threshold,
    * sampleSize), so over a static corpus it is computed ONCE (riding
    * the co-located at-rest df relation for its heavy half) and every
    * later call reads one tiny stamped parquet — the warm auto entry
    * point then costs exactly its CHOSEN CHAIN (measured: the 100×
    * warm call drops from ~20 s to the ~10 s CDC-chain floor,
    * SCALE.md round 14). A corpus change (extension, rewrite)
    * mismatches the stamp and re-probes — the decision can never go
    * stale. Values are identical to the self-derived probe by
    * construction (spec-asserted), so x141's hash cannot move.
    */
  private[graft] def containmentCandStatAtRest(docs: DataFrame,
      path: String, n: Int = 3, threshold: Double = 0.9,
      sampleSize: Int = 1024): Double = {
    val spark = docs.sparkSession
    graft.engine.AtRest.statStamped(spark, path, ContProbeMeta,
        CorpusId.stamp(docs, n, threshold, sampleSize, 1), "probe") {
      ensureShingleDfIndex(docs, path, n)
      estimateContainmentCandidatesPerDoc(docs, n, threshold,
        sampleSize, df = Some(readShingleDf(spark, path)))
    }
  }

  /** Measured expected containment-candidate mass PER DOCUMENT — the
    * sampled-probe discipline ([[estimateSimhashCollisionsPerDoc]],
    * [[estimateWinnowCollisionsPerDoc]]) applied to the x123 family,
    * with one structural difference the rarest-first prefix forces:
    * document frequencies come from the FULL corpus (one linear
    * partial-aggregated shingle→count pass, [[boilerplateStats]]'s cost
    * class), and only the per-doc prefix side is sampled. A
    * sample-local df CANNOT see this family's saturation — rarest-first
    * prefixes pick exactly the shingles that look unique inside any
    * 1024-doc sample even when their corpus-wide df is in the
    * thousands (measured: the saturated 100× corpus read 1.4 cand/doc
    * under sample-local dfs vs the ~2 000/doc its 995 M-candidate
    * OOM-killed join actually carries — SCALE.md round 13), so the
    * density² extrapolation that is unbiased for the winnow/simhash
    * probes is biased arbitrarily low here.
    *
    * Statistic: shingle a deterministic md5-ordered `sampleSize`-doc
    * sample (docs carrying ≥ 1 n-shingle), rank each sampled doc's
    * shingles rarest-first BY CORPUS df, keep the containment prefix
    * (|A| − ⌈t·|A|⌉ + 1 rarest — exactly [[containmentPairs]]'s probe
    * side), and average Σ over prefix rows of (df − 1) per sampled doc
    * — the expected per-doc candidate count directly, no extrapolation.
    *
    * Engine-portable end to end — md5 sample order, plain string-ranked
    * shingle dfs (no xxhash: the probe ranks by (df, shingle), which is
    * deterministic because a doc's distinct-shingle rows can't tie on
    * both) — so x141's oracle re-derives the statistic and the decision
    * bit for bit.
    */
  private[graft] def estimateContainmentCandidatesPerDoc(docs: DataFrame,
      n: Int = 3, threshold: Double = 0.9,
      sampleSize: Int = 1024, df: Option[DataFrame] = None): Double = {
    import org.apache.spark.sql.expressions.Window
    // deliberately NOT materialized corpus-wide: the probe re-derives
    // shingles per pass (df, sample top-k) — two corpus scans — instead
    // of persisting a corpus-sized shingle relation just to decide a
    // branch; the df aggregate is partial (map-side combined) so the
    // only shuffle is vocabulary-bounded, and the sample is a per-
    // partition top-k. Only the ≤ sampleSize-row sample materializes.
    // A caller holding the corpus's AT-REST df relation
    // ([[readShingleDf]] — value-identical by construction) passes it
    // as `df` and the probe's dominant cost drops to a
    // vocabulary-bounded parquet scan.
    val sg = shingled(docs, n)
    val freq = df.getOrElse(
      sg.select(explode(col("sg")).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("f")))
    val sample = sg
      .orderBy(md5(concat(lit("cac:"), col("doc_id").cast("string"))),
        col("doc_id"))
      .limit(sampleSize)
      .materialized
    // the post-limit row count IS min(eligible, sampleSize) — no
    // separate corpus-wide count pass needed
    val s = sample.count().toDouble
    if (s < 2) return 0.0
    val inv = sample.select(col("doc_id"), size(col("sg")).as("sz"),
      explode(col("sg")).as("s"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("s"))
    val row = inv.join(freq, "s")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .agg(sum(col("f") - 1).as("m"))
      .collect()(0)
    val mass = if (row.isNullAt(0)) 0.0 else row.getLong(0).toDouble
    mass / s
  }

  /** Scale-adaptive snippet-in-document containment — the auto story
    * completing the containment family the way [[jaccardPairsLshAuto]]
    * completed x07's, [[simhashNearDupAuto]] x82's and
    * [[substringOverlapAuto]] x41's: the EXACT shingle-containment join
    * ([[containmentPairs]], x123) while the measured prefix-candidate
    * mass stays linear-bounded (≤ 32 expected candidates/doc, the
    * family cutoff), the CDC chunk-fingerprint detector
    * ([[cdcContainmentPairs]], x140) once it exceeds that. The two
    * branches share the min-denominator containment contract but NOT
    * output-identical semantics (3-shingle grain at t vs
    * discriminative-chunk grain at `cdcThreshold`) — the switch is
    * about which detector is ANSWERABLE: at vocabulary saturation the
    * exact join's candidate mass is intrinsically ~n² (measured ×119
    * decade growth, 100× OOM — SCALE.md round 12) while chunk-fp df is
    * bounded by true duplication, so the production branch completes
    * where the exact one cannot. The probe alone decides. The decision
    * changes declared semantics, so x141's oracle replicates probe +
    * decision + both chains and selects with the identical comparison.
    */
  def containmentAuto(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.9, p: Int = 8,
      cdcThreshold: Double = 0.5,
      dfIndexPath: Option[String] = None): DataFrame = {
    // with a dfIndexPath the whole decision statistic lives at rest
    // (first call per corpus: df build + one probe; every later call:
    // one tiny stamped read — the invocation is then dominated by the
    // chosen chain); values are identical either way, so the decision
    // — and x141's hash — cannot move
    val est = dfIndexPath match {
      case Some(ip) =>
        containmentCandStatAtRest(docs, ip, n, threshold)
      case None =>
        estimateContainmentCandidatesPerDoc(docs, n, threshold)
    }
    if (est > 32) cdcContainmentPairs(docs, p, cdcThreshold)
    else containmentPairs(docs, n, threshold)
  }

  /** Near-dup THRESHOLD SWEEP — the price sheet read before choosing a
    * dedup cutoff: for each candidate threshold, how many verified
    * pairs and how many distinct documents a rewrite at that cutoff
    * would touch. Rides an already-verified pair relation (each pair
    * carries its exact `j`), so the whole sweep is grid×edges work on
    * the artifact — the corpus is never re-shingled per threshold; in
    * the declared query the input is [[cachedPairs]] at the loosest
    * threshold of interest, making the sweep a rider in the
    * one-live-builder protocol (x06 keeps the build cost measured).
    *
    * Scale shape: the pair relation is edge-bounded (near-dup graphs
    * are sparse); the grid is a broadcast literal of ~10 rows; both
    * aggregates are keyed partial aggs. Grid rows with zero qualifying
    * pairs still surface (left join from the grid) — a sweep that
    * silently dropped the "nothing to dedup here" thresholds would
    * misread as truncation.
    */
  def thresholdSweep(pairs: DataFrame,
      thresholds: Seq[Double] = Seq(0.5, 0.55, 0.6, 0.65, 0.7, 0.75,
        0.8, 0.85, 0.9, 0.95)): DataFrame = {
    val grid = pairs.sparkSession.range(1)
      .select(explode(lit(thresholds.toArray)).as("t"))
    val flagged = grid.join(pairs, col("j") >= col("t"))
    val pairAgg = flagged.groupBy(col("t"))
      .agg(count(lit(1)).as("n_pairs"))
    val docAgg = flagged
      .select(col("t"), explode(array(col("da"), col("db"))).as("d"))
      .groupBy(col("t"))
      .agg(countDistinct(col("d")).as("n_docs"))
    grid.join(pairAgg, Seq("t"), "left").join(docAgg, Seq("t"), "left")
      .select(col("t"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Cross-doc duplicate TOKEN-MASS ledger per source — [[repeatedSpans]]
    * aggregated to the one-page answer of "which sources are worth
    * pointing the span-dedup machinery at, and how many tokens does it
    * buy": per source, total docs/tokens, docs carrying at least one
    * removable span, tokens inside removal spans, and the duplicate
    * token fraction (the Gopher/Lee-et-al. dup-mass number at corpus
    * grain; x84 is the doc-level analog over exact+fuzzy clusters, this
    * is the sub-document span complement).
    *
    * Scale shape: everything corpus-scale is [[repeatedSpans]]' own
    * (measured 1×/10×/100×, SCALE.md); the rollup adds one per-doc
    * tokenize projection, a doc-keyed left join against the
    * span-bounded span relation, and a sources-bounded agg.
    */
  def spanDupLedger(docs: DataFrame, l: Int = 16): DataFrame = {
    val spans = repeatedSpans(docs, l)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("dup_toks"))
    docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .join(spans, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("dup_toks").isNotNull, 1L).otherwise(0L))
          .as("docs_hit"),
        sum(coalesce(col("dup_toks"), lit(0L))).as("dup_tokens"),
        round(sum(coalesce(col("dup_toks"), lit(0L))).cast(DoubleType) /
          sum(col("n_toks")), 6).as("dup_frac"))
  }
}
