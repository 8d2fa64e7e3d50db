package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.Tables
import graft.engine.Checkpoints.MaterializeOps
import graft.ext.{Dedup, IndexProfile, Multimodal, Retrieval, Sampling, Similarity, TextAnalysis}
import graft.ext.TextAnalysis._

/** Extension queries: the LLM-data-pipeline operators (north star,
  * BASELINE.json) over the `documents` and `embeddings` tables, each with a
  * DuckDB oracle where the semantics are SQL-expressible. MinHash-LSH
  * shares the brute-force oracle because its candidates are exact-verified
  * (Dedup.scala); the hyperplane-LSH and IVF paths are deterministic in
  * their fixed planes/centroids, so their oracles replicate the bucketing
  * itself (bucketsCte) — every query here is hash-checked.
  */
object ExtQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_token_count" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))),

    "x02_quality_score" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        stopwordCount(col("text")).as("n_stop"),
        qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    "x03_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), langId(col("text")).as("pred"))
        .orderBy(col("doc_id"))),

    "x04_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    "x05_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir)).orderBy(col("fp"))),

    // exact all-pairs semantics via the inverted shingle index with
    // 64-bit hashed keys + exact set-verify — hash collisions can only
    // ADD candidates, and the verify decides, so output stays exact
    // while the quadratic shuffle carries longs instead of 3-gram
    // strings (jaccardPairsBrute and the string-keyed index are the
    // ExtSpec cross-checks)
    "x06_ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairsIndexHashed(docs(s, dir), n = 3, threshold = 0.5)
        .orderBy(col("da"), col("db"))),

    // banding parameters chosen PER CORPUS from a sampled background-
    // Jaccard estimate (conf-overridable): r=2 on natural vocabularies
    // (identical output to the fixed b=64/r=2 default — exact-oracle
    // green), r=4 once the background would melt the r=2 candidate set
    // (the measured 100x remedy, SCALE.md). x118 benches the r=4
    // production shape continuously.
    "x07_minhash_lsh_pairs" -> ((s, dir) =>
      Dedup.jaccardPairsLshAuto(docs(s, dir), n = 3, threshold = 0.5,
        probeIndexPath = Some(dedupIndexPath(s, dir, "lbp")))
        .orderBy(col("da"), col("db"))),

    "x08_simhash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), simhash(col("text")).as("simhash"))
        .orderBy(col("doc_id"))),

    // exact semantics through the block-grid equi-join — identical output
    // to the nested-loop nearDupPairs (the ExtSpec cross-check), but the
    // declared plan distributes at scale instead of BNLJ-ing n²/2 pairs
    "x09_embedding_neardup" -> ((s, dir) =>
      Similarity.nearDupPairsBlocked(emb(s, dir), threshold = 0.4)
        .orderBy(col("va"), col("vb"))),

    // bounded-heap aggregation form (shuffle carries queries×k, not all
    // scored pairs); topKBrute is the window-rank cross-check in ExtSpec
    "x10_ann_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKAggregated(e, e.filter(col("vec_id") < 10), k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // Bucket-pruned top-k; the oracle reproduces the deterministic
    // hyperplane buckets (bucketsCte), so this is hash-checked.
    "x11_ann_topk_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKLsh(e, e.filter(col("vec_id") < 10), k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    "x12_multimodal_meta" -> ((s, dir) =>
      Multimodal.extractMeta(s, docs(s, dir)).toDF()
        .orderBy(col("doc_id"))),

    // inverted word statistics: document frequency + IDF per term
    "x13_doc_frequency" -> ((s, dir) => {
      val d = docs(s, dir)
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      d.select(explode(array_distinct(tokens(col("text")))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .select(col("word"), col("df"),
          round(log(col("n_docs").cast("double") / col("df")), 6).as("idf"))
        .orderBy(col("word"))
    }),

    // TF-IDF: highest-scoring term per document
    "x14_tfidf_top_term" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val toks = d.select(col("doc_id"),
        explode(tokens(col("text"))).as("word"))
      val tf = toks.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      // (doc_id, word) is unique in tf, so df falls out of the tf
      // aggregate — no second corpus-wide explode+distinct shuffle
      val dfq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val scored = tf.join(dfq, "word")
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("word").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("word"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // multi-table hyperplane-LSH near-dup + exact verify; candidate set
    // is deterministic in the fixed planes, so the oracle reproduces it
    // exactly (hash-checked; subset property additionally in ExtSpec)
    "x16_embedding_neardup_lsh" -> ((s, dir) =>
      Similarity.nearDupPairsLsh(emb(s, dir), threshold = 0.4)
        .orderBy(col("va"), col("vb"))),

    // near-dup clustering: connected components over the exact pair graph
    // (min-label propagation to fixpoint); the oracle computes true
    // components with a recursive CTE over the brute-force pairs. Edges
    // come from the EXACT inverted-index path, not LSH: CC amplifies a
    // single missed pair into a split component that mismatches many
    // output rows, so the declared query must not rest on a probabilistic
    // recall bound (clustering cost dominates anyway; jaccardPairsLsh is
    // the documented scale alternative for the edge step).
    "x17_dedup_clusters" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.dedupClusters(d, Dedup.cachedPairs(d))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style quality gate: mean word length, symbol noise, and
    // max-repeated-bigram ratio (the repetition rule) → keep/drop flag
    // (TextAnalysis.qualityFlags — shared with the x32 export composite)
    "x19_quality_flags" -> ((s, dir) =>
      qualityFlags(docs(s, dir)).orderBy(col("doc_id"))),

    // the end-to-end training-shard export composite: quality gate ∘
    // exact-dedup representative ∘ deterministic split ∘ label join ∘
    // token count — the materialization step a pipeline runs last. Each
    // stage is the already-declared operator (x19/x05/x18/x01); the
    // composite proves they chain in one plan (Export.trainingExport;
    // drop/keep + missing-label semantics pinned by the ExtSpec fixture,
    // since the gate corpus has no gate-failures/dups at gate SFs). The
    // near-dup variant slots dedupClusters (x17) into is_rep unchanged.
    "x32_training_export" -> ((s, dir) =>
      graft.ext.Export.trainingExport(docs(s, dir), emb(s, dir))
        .orderBy(col("doc_id"))),

    // shard-level manifest of the export: per (split, source) volume and
    // token mass — what the writer uses to plan output files
    "x33_shard_manifest" -> ((s, dir) =>
      graft.ext.Export.shardManifest(
        graft.ext.Export.trainingExport(docs(s, dir), emb(s, dir)))
        .orderBy(col("split"), col("source"))),

    // product-quantization ANN: 8-byte codes + per-query LUT sums
    // (asymmetric distance) — the compressed-at-rest scale path;
    // deterministic codebooks make it hash-checkable
    "x24_ann_topk_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKPq(e, e.filter(col("vec_id") < 10), k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // per-dimension embedding statistics — the feature-health / drift
    // monitor: mean and variance of every embedding coordinate across
    // the corpus, decimal-exact sums so the aggregation order can't
    // shift the 6th digit between engines
    "x20_dim_stats" -> ((s, dir) => {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val dec = DecimalType(38, 18)
      emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("d", "v")))
        .withColumn("vd", col("v").cast(DoubleType))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n"),
          sum(col("vd").cast(dec)).as("s"),
          sum((col("vd") * col("vd")).cast(dec)).as("sq"))
        // exact decimal SUMS, then pure double arithmetic: decimal
        // division/multiplication scale rules differ between engines,
        // but double ops on identical operands are bit-identical
        .select(col("d").cast("long").as("d"), col("n"),
          round(col("s").cast(DoubleType) / col("n"), 6).as("mean"),
          round((col("sq").cast(DoubleType) -
            col("s").cast(DoubleType) * col("s").cast(DoubleType) / col("n"))
            / (col("n") - 1), 6).as("variance"))
        .orderBy(col("d"))
    }),

    // sequence packing: assign documents to fixed token-budget training
    // bins (8192 here) with a running-sum window — greedy packing in
    // doc_id order WITHIN each source shard, so the window parallelizes
    // per source instead of serializing the corpus through one partition
    "x26_sequence_packing" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin",
          floor((col("cum") - col("n_tokens")) / 8192.0).cast("long"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("bin"))
        .orderBy(col("doc_id"))
    }),

    // int8 scalar quantization: per-vector max-abs scale + 127-step
    // rounding — 4x embedding storage compression, the at-rest format
    // cheap ANN serving uses. All arithmetic forced to double so the
    // rounding boundary is engine-portable (float-vs-double near .5
    // boundaries WOULD diverge); codes emitted as a joined string so the
    // driver hash can lexsort the column (q05 lesson).
    "x25_int8_quantize" -> ((s, dir) => {
      // the max-abs scale MUST be materialized as a column before the
      // quantizing transform: referenced inline, the scale subtree (a
      // transform + array_max over the whole array) is re-evaluated per
      // ELEMENT of the outer lambda — O(d²) interpreted work per row,
      // measured 1.9 s for 2000×64 floats vs ~0.2 s with the bound
      // column (the lambda-capture trap the r2 tokenizer fix documented)
      val scaled = emb(s, dir).select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"),
          x => abs(x.cast("double")))).as("s0"))
        // an all-zero vector has scale 0 — divide by 1 instead so codes
        // stay 0 (NaN would null out array elements here and abort the
        // oracle's CAST)
        .withColumn("ss",
          when(col("s0") === 0.0, lit(1.0)).otherwise(col("s0")))
      scaled.select(col("vec_id"),
        round(col("s0"), 6).as("scale"),
        array_join(transform(col("embedding"),
          x => round(x.cast("double") / col("ss") * 127, 0).cast("int")
            .cast("string")), ",").as("qvec"))
        .orderBy(col("vec_id"))
    }),

    // per-source corpus statistics — the mixing dashboard: volume, token
    // mass, and char-length percentiles per provenance bucket
    "x21_source_stats" -> ((s, dir) =>
      docs(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast("long")).as("total_tokens"),
          round(expr("percentile(length(text), 0.5)"), 6).as("p50_chars"),
          round(expr("percentile(length(text), 0.95)"), 6).as("p95_chars"))
        .orderBy(col("source"))),

    // deterministic weighted dataset mixing: per-source keep rates
    // realized as a hash-bucket threshold — the sampling decision is a
    // pure function of (doc_id, salt), so a re-run, a different engine,
    // or a partial re-process deals every document identically
    "x22_weighted_mix" -> ((s, dir) => {
      val weight = (expr("CAST(substring(source, 4) AS INT)") % 4 + 1) * 25
      docs(s, dir).select(col("doc_id"), col("source"),
        weight.cast("int").as("keep_pct"),
        (Sampling.hashBucket(col("doc_id"), "mix", 100) < weight)
          .as("kept"))
        .orderBy(col("doc_id"))
    }),

    // benchmark decontamination: train docs sharing any 5-gram with the
    // eval set (doc_id < 10) — the asymmetric inverted-index join, same
    // scale shape as x06 (shuffle on the shingle key, never pairwise);
    // Contamination.exact is the single definition x29 and the specs
    // also build on
    "x23_contamination" -> ((s, dir) =>
      graft.ext.Contamination.exact(docs(s, dir), col("doc_id") < 10)
        .orderBy(col("eval_id"), col("train_id"))),

    // deterministic hash-bucket train/val/test split — a function of the
    // row id, reproducible across engines/runs/subsets (no rand())
    "x18_hash_split" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        Sampling.hashBucket(col("doc_id"), "split", 100).as("bucket"),
        Sampling.split(col("doc_id")).as("split"))
        .orderBy(col("doc_id"))),

    // IVF-probed ANN over k-means-TRAINED centroids — the trained index
    // a production deployment runs (x35 is the recall gate proving the
    // training does not lower recall@10). Deterministic throughout:
    // quantized Lloyd means, rounded cosines, and id tie-breaks make
    // training + cell assignment + probing engine-portable, so the
    // DuckDB oracle below unrolls the identical iterations (kmeansCte)
    // and this stays hash-checked, not rows-only.
    "x15_ann_topk_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKIvf(e, e.filter(col("vec_id") < 10), k = 10,
        centroids = Some(Similarity.trainCentroids(e, nCentroids = 8)))
        .orderBy(col("qid"), col("rank"))
    }),

    // IVF recall audit: recall@10 of the probed IVF path (trained
    // centroids, exactly the x15 index) against the exact brute-force
    // ranking, in ONE composed plan — the measurement a user runs
    // before trusting the approximate index, and the declared gate for
    // x15's trained centroids (ExtSpec additionally asserts trained ≥
    // first-N recall). n_hit counts brute top-10 rows the IVF result
    // also returned for that query; both branches share the corpus
    // scan and the oracle replicates both rankings in SQL.
    "x35_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val brute = Similarity.topKBrute(e, q, k = 10)
        .select(col("qid"), col("cid"))
      val ivf = Similarity.topKIvf(e, q, k = 10,
        centroids = Some(Similarity.trainCentroids(e, nCentroids = 8)))
        .select(col("qid"), col("cid"), lit(1).as("hit"))
      brute.join(ivf, Seq("qid", "cid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("hit")).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          round(col("n_hit").cast("double") / 10, 6).as("recall"))
        .orderBy(col("qid"))
    }),

    // within-document repetition collapse: drop consecutive duplicate
    // tokens (the stutter/boilerplate-run cleaning step) — pure per-row
    // array expressions, zero shuffle. The index lambda reads the BOUND
    // ws column (two-projection pattern), so the tokenizer runs once per
    // doc, and the previous element comes from get() (0-based, null past
    // the edge) because ANSI element_at(·, 0) would throw on the first
    // slot even under a true left disjunct (no short-circuit guarantee).
    "x27_repetition_collapse" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), tokens(col("text")).as("ws"))
        .select(col("doc_id"), size(col("ws")).as("n_tokens"),
          filter(col("ws"),
            (w, i) => i === 0 || w =!= get(col("ws"), i - 1)).as("kept"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("kept")).as("n_kept"),
          array_join(col("kept"), " ").as("collapsed"))
        .orderBy(col("doc_id"))),

    // per-label embedding centroids + inter-label cosine — the domain /
    // class drift matrix. Centroid dims are decimal-exact sums rounded
    // to 6 digits (x20 lesson), so the pairwise cosines are
    // engine-portable; the pair join is |labels|²-bounded (a dim-sized
    // broadcast cartesian, PlanSpec-allowlisted like the ANN query side).
    "x28_label_centroid_sim" -> ((s, dir) => {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val dec = DecimalType(38, 18)
      def dotD(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
          (acc, v) => acc + v)
      val cent = emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
        .withColumn("vd", col("v").cast(DoubleType))
        .groupBy(col("label"), col("d"))
        .agg(sum(col("vd").cast(dec)).as("sv"), count(lit(1)).as("n"))
        .select(col("label"), col("d"),
          round(col("sv").cast(DoubleType) / col("n"), 6).as("m"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
          x => x.getField("m")).as("c"))
      val a = cent.select(col("label").as("la"), col("c").as("ca"))
      val b = cent.select(col("label").as("lb"), col("c").as("cb"))
      a.join(b, col("la") < col("lb"))
        .select(col("la"), col("lb"),
          round(dotD(col("ca"), col("cb")) /
            (sqrt(dotD(col("ca"), col("ca"))) *
              sqrt(dotD(col("cb"), col("cb")))), 6).as("cos"))
        .orderBy(col("la"), col("lb"))
    }),

    // per-source quality percentile — the curriculum/filtering
    // normalizer: a raw quality score means different things in
    // different source domains, so thresholds are set on the
    // within-source percent rank. Window ordering carries a doc_id
    // tie-break, so ranks are total-ordered and engine-portable.
    "x30_quality_percentile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("q"), col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          qualityScore(col("text")).as("q"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .orderBy(col("doc_id"))
    }),

    // incremental ingestion dedup: flag documents of a NEW batch whose
    // canonical fingerprint already exists in the base corpus — the
    // "don't re-ingest what we already have" step of a continuously fed
    // pipeline. One shuffle join on the 16-byte md5 key against the
    // distinct base fingerprints; at 100 TB the base side is the
    // fingerprint column only, never the text.
    "x31_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.filter(col("doc_id") < 100)
        .select(fingerprint(col("text")).as("fp")).distinct()
        .withColumn("seen", lit(1))
      d.filter(col("doc_id") >= 100)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .join(base, Seq("fp"), "left")
        .select(col("doc_id"), col("fp"),
          col("seen").isNotNull.as("dup_of_base"))
        .orderBy(col("doc_id"))
    }),

    // winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    // MOSS scheme): polynomial char-8-gram hashes with an O(1) rolling
    // update inside ONE codegen expression (RollingWinnow; the HOF/md5
    // formulation recomputed a full digest per gram — measured 3.8 s vs
    // ~0.3 s over the sf0.1 corpus), then 4-window mins, dedup + sort.
    // Any shared substring ≥ k+w-1 chars contributes a shared
    // fingerprint — the substring-level dedup primitive. The polynomial
    // (B=257, M=1e9+7) keeps every intermediate < 2^47, so the DuckDB
    // oracle replicates it in plain BIGINT arithmetic. The only
    // Exchange in the plan is the declared-output orderBy.
    "x34_winnowing" -> ((s, dir) =>
      docs(s, dir)
        // length ≥ k+w-1 is the expression's documented empty-array
        // condition — filtering on the CHEAP predicate before the
        // projection (not on size(fps) after) keeps Catalyst's
        // filter-through-project pushdown from substituting the whole
        // winnow expression into the predicate and running it twice
        .filter(length(col("text")) >= 8 + 4 - 1)
        .select(col("doc_id"),
          array_sort(array_distinct(
            graft.functions.RollingWinnow.rolling_winnow(col("text"), 8, 4)))
            .as("fps"))
        .select(col("doc_id"), size(col("fps")).as("n_fp"),
          array_join(transform(col("fps"), x => x.cast("string")), ",")
            .as("fp_set"))
        .orderBy(col("doc_id"))),

    // x23's exact contamination join with a Bloom sketch of the eval
    // shingles prefiltering the train side MAP-SIDE, before the shuffle
    // — the 100 TB lever. False positives die in the exact join, so the
    // output is bit-identical to x23 and shares its oracle shape.
    "x29_bloom_contamination" -> ((s, dir) =>
      graft.ext.Contamination.bloomPrefiltered(docs(s, dir),
        col("doc_id") < 10)
        .orderBy(col("eval_id"), col("train_id"))),

    // corpus-level heavy hitters: the 20 most frequent word bigrams —
    // the boilerplate detector (a bigram carried by a large corpus
    // fraction is template noise, not language). Partial aggregation
    // collapses counts map-side; orderBy+limit plans as
    // TakeOrderedAndProject (per-partition top-20 heaps, a k-row merge
    // at the driver — no global sort shuffle), so the plan ships
    // O(partitions × 20) rows regardless of corpus size. Tie-break on
    // the bigram makes the cut deterministic.
    "x36_ngram_topk" -> ((s, dir) =>
      docs(s, dir).select(tokens(col("text")).as("ws"))
        .select(explode(bigrams(col("ws"))).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg").asc)
        .limit(20)),

    // cross-source shingle-overlap matrix — which provenance buckets
    // duplicate each other (Dedup.sourceOverlap: inverted index on the
    // shingle, source-pair fan-out bounded by the dim-class source
    // column, no doc×doc step)
    "x37_source_overlap" -> ((s, dir) =>
      graft.ext.Dedup.sourceOverlap(docs(s, dir), n = 3)
        .orderBy(col("sa"), col("sb"))),

    // deterministic stratified sample: exactly 5 docs per source, drawn
    // by hash rank — the eval-set / human-audit draw (Sampling
    // .stratifiedSample; rank is a pure function of the row, so every
    // engine and re-run deals the same hand)
    "x38_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(
        docs(s, dir).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"), n = 5)
        .select(col("doc_id"), col("source"), col("rn").cast("int").as("rn"))
        .orderBy(col("doc_id"))),

    // SemDeDup: near-dup representatives WITHIN k-means cells — the
    // embedding-dedup scale path (Σ|cell|² verify instead of n²). Cell
    // count is ADAPTIVE (min(4096, max(8, n/250)), the x94-family contract — the
    // oracle derives the same) so the within-cell pair mass stays
    // ~n·250: at a fixed k it is n²/k, the exact quadratic the 100×
    // probe measured on the x43 composite that embeds this stage
    "x39_semantic_dedup" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.semanticDedup(e, threshold = 0.4,
        centroids = Similarity.trainCentroids(e,
          Similarity.adaptiveCellCount(e)))
        .orderBy(col("vec_id"))
    }),

    // PII/noise scrub pass: emails → <EMAIL>, URLs → <URL>, free
    // numbers → <NUM>, stopwords dropped, whitespace re-collapsed, with
    // per-class audit counts — a pure regexp_replace chain (zero
    // shuffle). On this synthetic corpus the email/URL/number classes
    // count 0 (there are none to find — the columns prove it); the
    // stopword rule rewrites nearly every row.
    "x40_text_scrub" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        scrubCount(col("text"), scrubEmail).as("n_email"),
        scrubCount(col("text"), scrubUrl).as("n_url"),
        scrubCount(col("text"), scrubNum).as("n_num"),
        scrubCount(col("text"), scrubStop).as("n_stop"),
        scrub(col("text")).as("scrubbed"))
        .orderBy(col("doc_id"))),

    // substring-level near-dup pairs via shared winnowing fingerprints
    // (Dedup.substringOverlapPairs) — the character-level complement of
    // x06's word-shingle Jaccard; k=16-char grams keep hot fingerprints
    // rare so the inverted index's Σ freq² stays linear-ish
    "x41_substring_overlap" -> ((s, dir) =>
      graft.ext.Dedup.substringOverlapPairs(docs(s, dir),
        k = 16, w = 8, minShared = 10)
        .orderBy(col("da"), col("db"))),

    // domain-mixing planner: per-source token mass, corpus share, and
    // the keep fraction that equalizes shares (the dial a weighted-mix
    // run like x22 takes as input). Pure two-level aggregation; all
    // post-agg arithmetic is IEEE double on identical operands, so the
    // 6-digit rounding is engine-portable.
    "x42_mix_plan" -> ((s, dir) => {
      val stats = docs(s, dir)
        .groupBy(col("source"))
        .agg(sum(tokenCount(col("text")).cast("long")).as("n_tokens"))
      val tot = stats.agg(
        sum(col("n_tokens")).cast("double").as("total"),
        count(lit(1)).cast("double").as("n_sources"))
      stats.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          round(col("n_tokens") / col("total"), 6).as("token_share"),
          round(least(lit(1.0),
            (col("total") / col("n_sources")) / col("n_tokens")), 6)
            .as("keep_frac"))
        .orderBy(col("source"))
    }),

    // the end-to-end pipeline composite (PipelineMain's lineage minus
    // the shard write): scrub → quality gate → exact-dedup reps → split
    // → label → semantic-dedup filter, ONE plan. Benches the full
    // composition; the oracle chains the x40/x32/x39 oracle bodies
    "x43_pipeline" -> ((s, dir) =>
      graft.ext.PipelineMain.pipelinePlan(
        docs(s, dir), emb(s, dir), scrubText = true, semDedup = true)
        .orderBy(col("doc_id"))),

    // context-window chunking: documents → overlapping 32-token training
    // rows (step 24) — per-row fan-out, zero shuffle
    // (TextAnalysis.chunkDocs), the prep stage feeding x26 packing / x18
    // splits at context length
    "x45_chunking" -> ((s, dir) =>
      TextAnalysis.chunkDocs(docs(s, dir), chunkTokens = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // chunk-level exact dedup — x45's windows under x05's min-id rule:
    // the C4-style boilerplate detector at sub-document granularity
    // (repeated spans surface as duplicate chunks even when whole-doc
    // fingerprints differ). One shuffle on the 16-byte chunk fingerprint;
    // only groups with >1 copy are reported
    "x46_chunk_dedup" -> ((s, dir) =>
      TextAnalysis.chunkDocs(docs(s, dir), chunkTokens = 32, overlap = 0)
        .select(unhex(md5(col("chunk_text"))).as("fp"),
          col("doc_id"), col("chunk_idx"))
        .groupBy(col("fp"))
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keep"),
          count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select(col("keep.doc_id").as("keep_doc"),
          col("keep.chunk_idx").as("keep_chunk"), col("n_copies"))
        .orderBy(col("keep_doc"), col("keep_chunk"))),

    // IVF index AT REST: corpus written once partitioned by trained cell
    // id, probes prune to the nprobe probed `cell=` directories
    // (Similarity.writeIvfIndex / topKIvfIndexed; PlanSpec asserts the
    // PartitionFilters). Same trained centroids and probe params as x15,
    // so the output — and the oracle — are identical; only the plan
    // differs, which is the entire point of an index.
    "x44_ann_topk_ivf_indexed" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir, "build")
      Similarity.writeIvfIndex(e, path, nCentroids = 8)
      Similarity.topKIvfIndexed(path, e.filter(col("vec_id") < 10),
        k = 10, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // The RESIDENT-index probe — what a deployed IVF index costs per
    // query batch once the build is amortized. x44 deliberately benches
    // build+probe (writeIvfIndex unconditional); here ensureIvfIndex
    // finds the fingerprint stamp on every call after the first and
    // REUSES the at-rest index, so the recorded cost converges to the
    // probe alone (the number the x44 design buys, previously only
    // spec-asserted). Same trained centroids and probe params as
    // x15/x44, so output — and oracle — are identical by construction.
    // the PPJoin prefix-filter path as a DECLARED query: same contract
    // and oracle as x06 (output-identical by construction — the prefix
    // filter is lossless), so the skew hatch's semantics preservation is
    // hash-checked every round, not just SkewSpec-asserted. x06 remains
    // the headline plan (faster on this corpus size); this is the shape
    // that wins when Σfreq² blows up (SCALE.md).
    "x48_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(docs(s, dir), n = 3, threshold = 0.5)
        .orderBy(col("da"), col("db"))),

    // exact repeated-span detection (Lee et al.-style substring dedup,
    // fixed-l window form): all non-canonical occurrences of any
    // duplicated 16-token window, merged per doc into maximal removal
    // spans. Dedup.repeatedSpans scaladoc has the 100 TB shape.
    "x49_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(docs(s, dir), l = 16)
        .orderBy(col("doc_id"), col("span_start"))),

    // the x49 spans APPLIED: the deduplicated corpus itself (canonical
    // occurrences kept, every other repeated 16-token run excised and
    // the survivors reassembled in token order)
    "x50_span_dedup_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.removeSpans(d, Dedup.repeatedSpans(d, l = 16))
        .orderBy(col("doc_id"))
    }),

    "x47_ann_topk_ivf_resident" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir, "resident")
      Similarity.ensureIvfIndex(e, path, nCentroids = 8)
      Similarity.topKIvfIndexed(path, e.filter(col("vec_id") < 10),
        k = 10, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // Okapi BM25 lexical retrieval: top-20 docs for a literal term query
    // ("dup" is the corpus's one rare term — high idf — so the ranking
    // actually discriminates). TakeOrderedAndProject top-k; stats and df
    // are broadcast (≤|Q|+1 rows)
    "x51_bm25_topk" -> ((s, dir) =>
      Retrieval.bm25(docs(s, dir), RetrievalTerms)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)),

    // hybrid search: reciprocal-rank fusion of the BM25 lexical top-50
    // and the embedding-cosine top-50 for query vector 0 (doc_id ≙
    // vec_id in the corpus). Each list is rank-limited BEFORE its rank
    // window, so the windows sort ≤50 rows post-TakeOrdered — the
    // bounded-fan-in shape RRF needs at 100 TB
    "x52_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lexTop = Retrieval.bm25(docs(s, dir), RetrievalTerms)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val e = emb(s, dir)
      val vecTop = Similarity
        .topKAggregated(e, e.filter(col("vec_id") === 0), k = 50)
        .select(col("cid").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lexTop, vecTop), c = 60)
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    }),

    // corpus-trained bigram-LM perplexity score (CCNet-style quality
    // signal): the model is an aggregate of the same tokenize pass, NLL
    // is computed once per DISTINCT bigram and joined back — one
    // corpus-scale shuffle
    "x53_bigram_lm_score" -> ((s, dir) =>
      graft.ext.Selection.bigramLmScore(docs(s, dir))
        .orderBy(col("doc_id"))),

    // DSIR importance weights (hashed-bigram log-likelihood ratio vs the
    // src0 target domain): B-row ratio table broadcast onto the feature
    // stream — zero corpus-scale join shuffle
    "x54_dsir_weights" -> ((s, dir) =>
      graft.ext.Selection.dsirWeights(docs(s, dir),
          col("source") === "src0")
        .orderBy(col("doc_id"))),

    // DataComp-style cluster-balanced subsample: stratified sampling
    // where the strata are LEARNED k-means cells (x15's trained
    // centroids) — caps each semantic neighborhood at a quota so
    // over-represented regions can't dominate the training mix. x38's
    // hash-rank (a pure function of the row) over x15's cell assignment
    "x55_cluster_balanced_sample" -> ((s, dir) => {
      val e = emb(s, dir)
      val cells = Similarity.cellAssignments(e,
        Similarity.trainCentroids(e, nCentroids = 8))
      Sampling.stratifiedSample(cells, col("cell"), col("vec_id"), n = 20,
          salt = "cbal")
        .select(col("vec_id"), col("cell"), col("rn"))
        .orderBy(col("vec_id"))
    }),

    // the fuzzy analog of x50's corpus rewrite, closing the standard
    // dedup recipe: x06's exact near-dup pair graph → x17's connected
    // components → keep each component's min-id representative with its
    // absorbed-duplicate count. Edges come from the exact inverted-index
    // path for the same reason x17's do (one LSH-missed pair splits a
    // component and mismatches many output rows).
    "x56_fuzzy_dedup_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.fuzzyDedupFromClusters(d, Dedup.cachedClusters(d))
        .orderBy(col("doc_id"))
    }),

    // Johnson–Lindenstrauss random projection: 64-d float embeddings →
    // 16 dense doubles through the planeWeight fixed matrix (the
    // hyperplane sketch's PRNG, already oracle-replicated) — the
    // distance-preserving compression step before storing or
    // brute-forcing over billions of vectors. One map pass, zero shuffle
    "x57_random_projection" -> ((s, dir) =>
      Similarity.randomProject(emb(s, dir), dim = 64, outDim = 16)
        .orderBy(col("vec_id"))),

    // learned linear quality probe: squared-loss full-batch GD on the
    // embeddings against the label-0 seed set (3 iterations, quantized
    // updates), then score the whole corpus — the classifier-filter step
    // of a data pipeline, trained AND applied inside the engine; the
    // oracle re-runs the identical GD unrolled in SQL
    "x58_linear_probe" -> ((s, dir) =>
      graft.ext.Selection.linearProbe(emb(s, dir), col("label") === 0)
        .orderBy(col("vec_id"))),

    // incremental FUZZY dedup: the near-dup analog of x31's exact
    // fingerprint probe — flag new-batch docs whose 3-gram Jaccard with
    // any base doc reaches 0.5, with the best base match. The base side
    // is a probe-shaped inverted index (candidate mass ∝ batch, never
    // base²); same id split as x31
    "x59_incremental_fuzzy" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalFuzzyDedup(
        d.filter(col("doc_id") < 100), d.filter(col("doc_id") >= 100),
        n = 3, threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // batch admission control — the incremental-ingest composite: the
    // quality gate (x19), exact probe (x31), fuzzy probe (x59), and
    // 5-gram decontamination (x23) in ONE plan, with the verdict and
    // the first-failing-stage reason per new-batch doc
    "x60_batch_admission" -> ((s, dir) =>
      graft.ext.Export.batchAdmission(docs(s, dir),
        basePred = col("doc_id") < 100, evalPred = col("doc_id") < 10)
        .orderBy(col("doc_id"))),

    // one-row corpus health report — the first query a user points at a
    // new corpus: volume, source/language breadth, token mass, exact-dup
    // rate, and the quality-gate pass rate, in one aggregate-only pass
    // (+ the per-doc bigram agg the quality gate needs). Every input is
    // an already-declared scalar (x01/x05/x19)
    "x61_corpus_report" -> ((s, dir) => {
      val d = docs(s, dir)
      val q = qualityFlags(d).select(col("doc_id"), col("keep"))
      d.select(col("doc_id"), col("source"), col("lang"),
          tokenCount(col("text")).cast("long").as("nt"),
          graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))
        .join(q, Seq("doc_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("nt")).as("total_tokens"),
          round(lit(1.0) -
            countDistinct(col("fp")).cast("double") / count(lit(1)), 6)
            .as("dup_rate"),
          round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("quality_pass_rate"))
    }),

    // Gopher repetition suite (Rae et al. 2112.11446 App. A): most-common-
    // bigram character mass + duplicated-trigram character mass per doc,
    // and the band gate — the repetition filters that catch boilerplate
    // floods x19's single max-bigram ratio misses. Two doc-keyed
    // explode→partial-agg shuffles + one per-doc window
    "x62_repetition_metrics" -> ((s, dir) =>
      TextAnalysis.repetitionMetrics(docs(s, dir)).orderBy(col("doc_id"))),

    // sequence packing — concat-and-cut into 512-token training packs,
    // shard-parallel by source (the within-shard scan is the operator's
    // contract; cross-shard parallelism is the scale axis). One window +
    // one keyed agg
    "x63_pack_manifest" -> ((s, dir) =>
      graft.ext.Export.packSequences(docs(s, dir), col("source"),
          col("doc_id"), tokenCount(col("text")), budget = 512)
        .orderBy(col("part"), col("pack_id"))),

    // temperature-scaled source mixture weights (α-smoothing of
    // multi-domain sampling): token mass per source → normalized
    // mass^(1/T) weight + implied up/down-sampling factor. One keyed agg
    // + a 1-row broadcast normalizer
    "x64_mixture_weights" -> ((s, dir) =>
      graft.ext.Selection.mixtureWeights(docs(s, dir), temperature = 2.0)
        .orderBy(col("source"))),

    // vocabulary coverage: top-20 tokens by corpus frequency with the
    // cumulative fraction of all token occurrences they cover —
    // TakeOrderedAndProject down to k rows, cumsum window over those k
    // only, total via 1-row broadcast
    "x65_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(docs(s, dir), k = 20)
        .orderBy(col("c").desc, col("token"))),

    // IVF-PQ (Jégou et al. 2011): coarse cells prune the corpus to each
    // query's probed partitions, PQ codes + broadcast ADC table rank the
    // survivors — x15's pruning composed with x24's compression, the
    // billion-scale ANN layout
    "x66_ann_topk_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKIvfPq(e, e.filter(col("vec_id") < 10), k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // c-TF-IDF cluster topic labels (BERTopic): each IVF cell labeled
    // with its top-3 tokens by class-based TF-IDF — the human-readable
    // face of the cluster machinery; every relation past the tokenize
    // pass is cell×vocab-bounded
    "x67_cluster_labels" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.ext.Selection.clusterTopicLabels(docs(s, dir), e,
          e.filter(col("vec_id") < 8), topN = 3)
        .orderBy(col("cell"), col("rank"))
    }),

    // pairwise source drift: symmetric KL between hashed-bigram
    // distributions (x54's feature hashing, densified + smoothed) — the
    // domain-shift monitor behind mixing decisions
    "x68_source_drift" -> ((s, dir) =>
      graft.ext.Selection.sourceDriftMatrix(docs(s, dir))
        .orderBy(col("src_a"), col("src_b"))),

    // dedup cluster-size histogram — the one-page duplication report
    // over x17's components: how many clusters of each size, how many
    // docs they hold; two keyed aggs on top of the clustering
    "x69_dedup_histogram" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.cachedClusters(d)
        .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("sz") * col("n_clusters"))
        .orderBy(col("sz"))
    }),

    // per-doc shingle novelty (RefinedWeb duplicate-fraction): share of a
    // doc's distinct 3-gram shingles first seen in an earlier doc — the
    // doc-level prioritizer that decides who gets span-level treatment.
    // Linear: shingle→min(doc_id) partial agg + keyed join-back, no pairs
    "x70_novelty_rate" -> ((s, dir) =>
      Dedup.noveltyRate(docs(s, dir), n = 3).orderBy(col("doc_id"))),

    // Matryoshka truncation audit: recall@10 of brute-force retrieval on
    // the FIRST 16 of 64 dims vs full-dim ground truth — the "how many
    // dims can we store" dial for a 100 TB vector corpus (truncated
    // retrieval reads 1/4 of the bytes; this query prices the recall
    // cost). Same shared-scan shape as x35
    "x71_matryoshka_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val trunc = e.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val full = Similarity.topKBrute(e, e.filter(col("vec_id") < 10), k = 10)
        .select(col("qid"), col("cid"))
      val t = Similarity
        .topKBrute(trunc, trunc.filter(col("vec_id") < 10), k = 10)
        .select(col("qid"), col("cid"), lit(1).as("hit"))
      full.join(t, Seq("qid", "cid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("hit")).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          round(col("n_hit").cast("double") / 10, 6).as("recall"))
        .orderBy(col("qid"))
    }),

    // normalization-sensitivity dedup delta: per source, how many MORE
    // duplicate groups an aggressive key (lowercase, every non-alnum run
    // → one space) merges vs the x04 canonical fingerprint — prices the
    // "should dedup see punctuation?" decision before a corpus-wide
    // rewrite. One pass, two distinct-key counts per source
    "x72_norm_dedup_delta" -> ((s, dir) =>
      Dedup.normalizationDelta(docs(s, dir)).orderBy(col("source"))),

    // BPE merge-step candidates: top-20 adjacent subword-token pairs by
    // corpus frequency with the merged form — the counting core of one
    // BPE trainer iteration (the argmax pair IS the next merge rule).
    // Partial-agg + per-partition top-k heaps (TakeOrderedAndProject),
    // same no-global-sort contract as x36
    "x73_bpe_pair_counts" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(docs(s, dir), k = 20)
        .orderBy(col("n").desc, col("pair").asc)),

    // curriculum schedule: quality-percentile phase assignment (4 phases
    // within each source, x30's percentile contract) rolled up to the
    // per-(source, phase) doc and token mass the training scheduler
    // consumes. One window + one keyed agg
    "x74_curriculum_schedule" -> ((s, dir) =>
      graft.ext.Selection.curriculumSchedule(docs(s, dir), phases = 4)
        .orderBy(col("source"), col("phase"))),

    // top principal component by in-engine power iteration (2 passes):
    // the anisotropy/collapse diagnostic over the embedding corpus —
    // per-dim loading + λ₁, O(rows·dim) per pass, no dim×dim covariance
    // ever materialized, inter-pass state is a 1-row broadcast. The
    // oracle re-runs the identical quantized arithmetic unrolled in SQL
    "x75_pca_top_component" -> ((s, dir) =>
      Similarity.pcaTopComponent(emb(s, dir), dim = 64, iters = 2)
        .orderBy(col("d"))),

    // per-source token Shannon entropy + evenness — the in-source
    // diversity ledger (template floods show up as low entropy before
    // any pairwise dedup runs); one tokenize pass, everything past it
    // (sources × vocab)-bounded
    "x76_source_entropy" -> ((s, dir) =>
      TextAnalysis.sourceTokenEntropy(docs(s, dir)).orderBy(col("source"))),

    // binary-quantized ANN: sign-bit bitmaps (8 B/vector — 32× less scan
    // IO than the float corpus), Hamming coarse rank via bit_count(xor),
    // exact cosine rerank of the 50 nearest bitmaps per query. The
    // accuracy/IO middle ground between x10's brute scan and x15's IVF;
    // the oracle recomputes the identical sign-difference counts
    "x77_ann_topk_binary" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKBinary(e, e.filter(col("vec_id") < 10), k = 10,
          cands = 50)
        .orderBy(col("qid"), col("rank"))
    }),

    // embedding outlier report: the 20 vectors least similar to their own
    // assigned k-means centroid (x15/x39's trained cells) — the
    // belongs-nowhere junk detector, SemDeDup's complement
    "x78_embedding_outliers" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.centroidOutliers(e,
          Similarity.trainCentroids(e, nCentroids = 8), n = 20)
        .orderBy(col("ccos").asc, col("vec_id").asc)
    }),

    // subword fertility per predicted language: subword-to-word token
    // ratio by x03's langId bucket — the tokenizer-cost ledger (a
    // language whose fertility runs high pays more sequence length per
    // word; the dial for vocab sizing and per-language token budgets)
    "x79_subword_fertility" -> ((s, dir) =>
      docs(s, dir)
        .select(langId(col("text")).as("lang"),
          tokenCount(col("text")).as("nw"),
          subwordCount(col("text")).as("nsw"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"),
          sum(col("nsw")).as("n_subwords"),
          round(sum(col("nsw")).cast("double") / sum(col("nw")), 6)
            .as("fertility"))
        .orderBy(col("lang"))),

    // hard-negative mining (DPR-style): per query, the top same-label
    // neighbor (positive) + the 5 highest-cosine different-label
    // neighbors — the near-miss triplets contrastive training consumes
    "x80_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 10), k = 5)
    }),

    // TF-IDF weighted cosine near-dup pairs over 3-gram shingle
    // occurrences, Bayardo WWW'07 weighted-prefix-filtered: the
    // weighted complement of x06's set Jaccard on the SAME shingle
    // space — rare shared shingles dominate, hot ones land in the
    // un-indexed suffix of the prefix filter and never expand
    "x81_tfidf_cosine_pairs" -> ((s, dir) =>
      Dedup.tfidfCosinePairs(docs(s, dir), threshold = 0.8, n = 3)
        .orderBy(col("da"), col("db"))),

    // SimHash Hamming near-dup via Manku block-combination keys —
    // radius 3 over 6 blocks of 10 bits joins on C(6,3) = 20 30-bit
    // keys; Hamming ≤ 3 leaves ≥ 3 blocks untouched (pigeonhole) so the
    // equi-join is EXACT, not probabilistic, with 2^30 buckets instead
    // of the naive 1-block scheme's 2^15; verify is one bit_count(xor)
    // per candidate and only 8-byte fingerprints ever shuffle
    "x82_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDup(docs(s, dir), radius = 3, blocks = 6)
        .orderBy(col("da"), col("db"))),

    // Heaps-law vocabulary growth: cumulative distinct vocab vs token
    // mass in ingest order, 50-doc buckets — "is new data still adding
    // new language?"; the only window runs over bucket cardinality
    "x83_vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(docs(s, dir), bucketSize = 50)),

    // per-source dedup savings: doc + token mass in non-representative
    // exact copies and near-dup cluster members — the price sheet read
    // before a corpus rewrite, and the x64 mixture planner's correction
    // factor (post-dedup token mass per source)
    "x84_dedup_savings" -> ((s, dir) =>
      Dedup.dedupSavings(docs(s, dir))),

    // leakage-safe split: every near-dup cluster member takes the split
    // of its CLUSTER label, so no near-dup pair can straddle a
    // train/eval boundary; singletons reproduce the plain x18
    // assignment exactly (x17's CC clusters ∘ x18's hash split)
    "x85_leakage_safe_split" -> ((s, dir) => {
      val d = docs(s, dir)
      Sampling.leakageSafeSplit(Dedup.cachedClusters(d))
        .orderBy(col("doc_id"))
    }),

    // split-leakage audit: the (split_a, split_b) matrix of verified
    // near-dup pairs under the NAIVE per-doc split — off-diagonal mass
    // is the eval contamination x85 eliminates
    "x86_split_leakage_audit" -> ((s, dir) =>
      Sampling.splitLeakageAudit(Dedup.cachedPairs(docs(s, dir)))
        .orderBy(col("split_a"), col("split_b"))),

    // held-out stupid-backoff trigram LM: model trained on the non-src0
    // sources only, scored over ALL docs — src0 docs exercise the real
    // backoff chain (unseen trigram → bigram → add-one unigram floor)
    "x87_backoff_lm_score" -> ((s, dir) =>
      graft.ext.Selection.backoffLmScore(docs(s, dir),
        col("source") =!= "src0")
        .orderBy(col("doc_id"))),

    // relational count-min sketch heavy hitters: md5-hashed 3×256
    // counter table (engine-portable, mergeable, broadcastable), top-20
    // terms by estimate alongside the exact count and the one-sided
    // overcount the CMS contract guarantees
    "x88_cms_heavy_hitters" -> ((s, dir) =>
      graft.ext.Sketches.cmsHeavyHitters(
        docs(s, dir).select(explode(tokens(col("text"))).as("w")),
        col("w"), k = 20)),

    // MinHash estimator fidelity: exact vs estimated Jaccard at a SHORT
    // 16-slot signature over every verified near-dup pair — the
    // signature-size dial, on the portable md5 hash family so the
    // oracle reproduces every slot
    "x89_minhash_fidelity" -> ((s, dir) =>
      Dedup.minhashFidelity(docs(s, dir), n = 3, threshold = 0.3,
        numHashes = 16)
        .orderBy(col("da"), col("db"))),

    // relational HyperLogLog: per-source distinct-shingle estimate from
    // a 64-register md5 sketch (mergeable by re-max: the __all row IS
    // the per-source registers merged), alongside the exact distinct
    // count and the relative error
    "x90_hll_distinct" -> ((s, dir) => {
      val sh = docs(s, dir)
        .select(col("source"), tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("source"),
          explode(shinglesFromTokens(col("ws"), 3)).as("sg"))
      val regs = graft.ext.Sketches
        .hllRegisters(sh, col("sg"), col("source")).materialized
      val all = regs.groupBy(col("j")).agg(max(col("mx")).as("mx"))
        .select(lit("__all").as("grp"), col("j"), col("mx"))
      val est = graft.ext.Sketches.hllEstimate(regs.unionByName(all))
      val exact = sh.groupBy(col("source"))
        .agg(countDistinct(col("sg")).as("exact"))
        .select(col("source").as("grp"), col("exact"))
        .unionByName(sh.agg(countDistinct(col("sg")).as("exact"))
          .select(lit("__all").as("grp"), col("exact")))
      est.join(exact, "grp")
        .select(col("grp").as("source"), col("v"), col("est"),
          col("exact"),
          round(abs(col("est") - col("exact")) / col("exact"), 6)
            .as("rel_err"))
        .orderBy(col("source"))
    }),

    // retrieval-quality eval: nDCG@10 + reciprocal rank of brute cosine
    // retrieval under label-match relevance — position-weighted ranking
    // quality, the metric x35/x71's set-overlap recall can't see
    "x91_retrieval_ndcg" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.retrievalEval(e, e.filter(col("vec_id") < 20), k = 10)
        .orderBy(col("qid"))
    }),

    // PMI collocations: top-20 adjacent word pairs by pointwise mutual
    // information (min pair count 5) — the multi-word-expression
    // detector behind tokenizer-vocab decisions
    "x92_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(docs(s, dir), k = 20, minCount = 5)),

    // simplified silhouette per trained k-means cell: the clustering-
    // quality ledger read before trusting the cells that back SemDeDup
    // (x39), balanced sampling (x55), and IVF probing (x15) — shares
    // their cached centroid training
    "x93_cluster_silhouette" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.silhouette(e, Similarity.trainCentroids(e, nCentroids = 8))
        .orderBy(col("cell"))
    }),

    // cell-local approximate kNN graph with mutual-degree stats: the
    // input ledger for graph-based corpus work; edges only within
    // trained k-means cells (the SemDeDup locality shape). Cell count
    // is ADAPTIVE (min(4096, max(8, n/250)), oracle computes the same) so
    // Σ|cell|² stays ~n·250 instead of the fixed-k n²/8 the scale
    // probes measured at exp ≈ 1.0
    "x94_knn_graph" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnGraph(e,
        Similarity.trainCentroids(e, Similarity.adaptiveCellCount(e)),
        k = 5).orderBy(col("vec_id"))
    }),

    // intra-label dispersion via the normalized-sum identity — mean
    // pairwise cosine per label with NO pairwise join (exact integer
    // sums over 1e-6-quantized unit vectors); x28's within-class
    // complement
    "x95_label_dispersion" -> ((s, dir) =>
      Similarity.labelDispersion(emb(s, dir)).orderBy(col("label"))),

    // Zipf-law OLS fit over the top-200 token frequencies: one-row
    // slope/intercept/r² — the corpus-naturalness dial (slope ≈ −1 for
    // natural language; flat = template flood)
    "x96_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(docs(s, dir), topN = 200)),

    // blocklist gate (the C4 badwords-filter shape): per-source flagged
    // docs + hit mass on exact lowercased-token matches
    "x97_blocklist_gate" -> ((s, dir) =>
      TextAnalysis.blocklistGate(docs(s, dir), Blocklist)
        .orderBy(col("source"))),

    // Flesch reading-ease per doc with a deterministic vowel-group
    // syllable heuristic — the readability face of the quality suite
    "x98_readability" -> ((s, dir) =>
      TextAnalysis.readability(docs(s, dir)).orderBy(col("doc_id"))),

    // token burstiness (Church & Gale cf/df): boilerplate concentrates
    // in few docs (high), content words spread thin — the per-token
    // face of the repetition gate
    "x99_token_burstiness" -> ((s, dir) =>
      TextAnalysis.tokenBurstiness(docs(s, dir), k = 20, minCf = 20)),

    // template-prefix detector: per-source share of docs whose first-8-
    // token fingerprint repeats — boilerplate triage read before the
    // substring-dedup machinery is pointed at a source
    "x100_template_prefix" -> ((s, dir) =>
      Dedup.templatePrefixRate(docs(s, dir), prefixTokens = 8)
        .orderBy(col("source"))),

    // int8 quantization-error audit: reconstruction cosine of x25's
    // codes rolled to one row — the 4×-compression price sheet (x71's
    // role, played for int8 instead of truncation)
    "x101_int8_quant_error" -> ((s, dir) =>
      Similarity.int8QuantError(emb(s, dir))),

    // sketch-based batch novelty: HLL registers of base (≠src0) vs
    // batch (src0) shingles, merged by re-max — est_new = est(merged) −
    // est(base) against the exact anti-join count; x70's mergeable
    // ingest-time face (union sketches across days, no driver state)
    "x102_hll_novelty" -> ((s, dir) => {
      val sh = docs(s, dir)
        .select(col("source"), tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("source"),
          explode(shinglesFromTokens(col("ws"), 3)).as("sg"))
        .materialized
      graft.ext.Sketches.hllNovelty(
        sh.filter(col("source") =!= "src0").select(col("sg")),
        sh.filter(col("source") === "src0").select(col("sg")))
    }),

    // Efraimidis-Spirakis weighted sampling without replacement:
    // deterministic hash-uniform u per doc, priority ln(u)/n_chars,
    // global top-100 via TakeOrderedAndProject — the one-pass
    // importance sampler (longer docs proportionally likelier, no
    // rand(), identical draw on every engine/run/partitioning)
    "x103_weighted_sample" -> ((s, dir) =>
      graft.ext.Sampling.weightedSample(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        col("doc_id"), col("n_chars"), k = 100)),

    // per-cell triangle count + clustering coefficient of the mutual
    // cell-local kNN graph (degree-ordered node-iterator, Suri &
    // Vassilvitskii WWW'11) — the graph-health audit over x94's edges
    "x104_triangle_stats" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.triangleStats(e,
        Similarity.trainCentroids(e, Similarity.adaptiveCellCount(e)),
        k = 5)
        .orderBy(col("cell"))
    }),

    // PageRank centrality over the mutual kNN graph, 3 fixed
    // power-method iterations in EXACT integer units (rank·1e12 as
    // BIGINT, damping 85/100, round-half-up integral divides — no
    // doubles, so bit-identical on any engine; oracle-unrollable):
    // top-20 most-central vectors as a prototypicality selection signal
    "x105_pagerank" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.pageRank(e,
        Similarity.trainCentroids(e, Similarity.adaptiveCellCount(e)),
        k = 5)
    }),

    // greedy k-center (farthest-point) coreset: the 8 most spread-out
    // exemplars by min-max 6-dp cosine (Gonzalez 1985), seed = lowest
    // vec_id, with the non-decreasing coverage curve
    "x106_kcenter_coreset" -> ((s, dir) =>
      Similarity.kCenterCoreset(emb(s, dir), k = 8)
        .orderBy(col("sel_rank"))),

    // UniMax budget allocation (Chung et al. 2023): 100k-token budget,
    // 4-epoch cap — poor sources contribute their full capped mass,
    // rich ones split the remainder equally; exact-integer boundary
    // test, one source-cardinality window
    "x107_unimax_alloc" -> ((s, dir) =>
      graft.ext.Selection.uniMaxAllocation(docs(s, dir),
        budget = 100000L, epochCap = 4)
        .orderBy(col("source"))),

    // sample-representativeness audit: per trained-IVF-cell corpus vs
    // 10%-hash-sample shares, log-ratio, KL(sample ‖ corpus) terms —
    // the coverage check before trusting a sampled subset
    "x108_coverage_audit" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.ext.Sampling.coverageAudit(e,
        Similarity.trainCentroids(e, nCentroids = 8), samplePct = 10)
        .orderBy(col("cell"))
    }),

    // DDSketch-style mergeable quantile sketch (integer log-linear
    // buckets, 8 per octave): per-source p50/p90/p99 of n_chars read
    // from the groups×S·log₂(max) counter relation — the third
    // mergeable sketch next to CMS (x88) and HLL (x90/x102)
    "x109_quantile_sketch" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ext.Sketches.quantileEstimates(
        graft.ext.Sketches.quantileBuckets(d, col("source"),
          col("n_chars")),
        qs = Seq(0.5, 0.9, 0.99))
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"), col("q"))
    }),

    // calibration audit of the x58 probe: sigmoid scores → 10 bins →
    // mean predicted vs empirical positive rate, per-bin gap and ECE
    // contribution — whether the filter's 0.9 means 90%
    "x110_probe_calibration" -> ((s, dir) => {
      val probe = graft.ext.Selection.linearProbe(emb(s, dir),
        col("label") === 0)
      graft.ext.Selection.calibrationCurve(probe, col("score"),
        col("label_target"))
        .orderBy(col("bin"))
    }),

    // kNN label-agreement mislabel triage: per labeled vector, the
    // share of its cell-local top-5 neighbors agreeing with its label;
    // suspect = agreement < 0.5 (confident-learning-style QA list)
    "x111_label_agreement" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.labelAgreement(e,
        Similarity.trainCentroids(e, Similarity.adaptiveCellCount(e)),
        k = 5)
        .orderBy(col("vec_id"))
    }),

    // effective-number class weights (Cui et al. CVPR'19): per-label
    // (1−β)/(1−β^n) re-weighting normalized to mean 1 — the
    // class-balance dial for a deduplicated-but-skewed corpus
    "x112_class_weights" -> ((s, dir) =>
      graft.ext.Selection.effectiveNumberWeights(emb(s, dir),
        col("label"))
        .orderBy(col("label"))),

    // ingest-rate anomaly detection: per (event_type, day) counts on a
    // DENSIFIED per-type calendar grid (outage days appear as n = 0
    // rows — a feed going completely dark is detectable, and the ROWS
    // frame is a true trailing week, not "last 7 observed days") with
    // a trailing-7-day z-score. Variance from EXACT integer window
    // sums ((Σx² − k·m²)/(k−1)), z only when the full 7-day history
    // exists and variance > 0; one daily rollup then a
    // types×days-bounded grid + window
    "x113_event_anomaly" -> ((s, dir) =>
      graft.ext.Events.dailyAnomaly(Tables.load(s, dir, "events"))
        .orderBy(col("event_type"), col("day"))),

    // per-doc character-entropy gate: Shannon entropy of the character
    // distribution via the x36-shape explode + two partial-aggregated
    // groupBys (2.8 s at sf0.1 vs 5.95 s for the bit-identical in-row
    // fold TextAnalysis.charEntropy — interpreted-HOF struct churn
    // loses to a combine-collapsed shuffle) — the gibberish/
    // encoding-garbage filter: natural text sits ~3.5–4.5 bits
    "x114_char_entropy" -> ((s, dir) =>
      graft.ext.TextAnalysis.charEntropyPerDoc(docs(s, dir))
        .orderBy(col("doc_id"))),

    // rank-average quality ensemble: per-source percentiles of the x02
    // quality score, x98 readability, and x114 entropy, averaged —
    // the scale-free multi-signal blend a curation pipeline gates on
    "x115_quality_ensemble" -> ((s, dir) =>
      graft.ext.Selection.qualityEnsemble(docs(s, dir))
        .orderBy(col("source"), col("ens_rank"))),

    // near-dup artifacts AT REST: ensureDedupIndex writes the verified
    // pair graph + CC labels once (fingerprint-stamped sidecar), every
    // later call finds the stamp and REUSES them — the x47 resident
    // discipline applied to dedup, so across jobs/passes the recorded
    // cost converges to one parquet scan + the singleton coalesce join
    // while x06/x17 keep the live build+cluster costs measured. Same
    // exact pairs and min-label CC contract as x17, so the oracle is
    // identical by construction.
    "x116_dedup_index_resident" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = dedupIndexPath(s, dir, "resident")
      Dedup.ensureDedupIndex(d, path)
      Dedup.readDedupClusters(d, path).orderBy(col("doc_id"))
    }),

    // the saturation-production LSH parametrization as its own declared
    // query: r=4 (256 hashes / 64 bands) at threshold 0.7 — the banding
    // shape that stays flat on boilerplate-heavy corpora where x07's
    // r=2 melts (SCALE.md 100x: 449 s -> 16.4 s). 64 bands of 4 rows
    // put the per-pair miss probability at j = 0.7 near 2e-8, so the
    // EXACT-Jaccard oracle stays hash-green while the banded plan is
    // what actually runs and gets benched every round.
    "x118_minhash_lsh_r4" -> ((s, dir) =>
      Dedup.jaccardPairsLsh(docs(s, dir), n = 3, threshold = 0.7,
        numHashes = 256, bands = 64)
        .orderBy(col("da"), col("db"))),

    // x82's saturation lever made real: 120-bit SimHash (two salted
    // md5 families) with Manku keys over 8 blocks of 15 bits —
    // C(8,5)=56 combos of 75-bit keys packed into two longs, exact
    // equi-join, pigeonhole-complete at radius 3 on the TOTAL 120-bit
    // Hamming distance. The wide fingerprint re-spreads the distance
    // distribution that 60 bits compress on bounded-vocabulary corpora
    // (SCALE.md's measured 10->100x exp 1.46); collision key space
    // grows 2^30 -> 2^75 for 2.8x the index rows.
    "x117_simhash_wide_neardup" -> ((s, dir) =>
      Dedup.simhashNearDupWide(docs(s, dir), radius = 3, blocks = 8)
        .orderBy(col("da"), col("db"))),

    // the at-rest index EXTENDED incrementally: ensure on the first
    // half of the corpus, extendDedupIndex with the second half (only
    // batch-internal + batch x base pairs computed - never base x base
    // again), read the full labeling. The oracle is the FULL-corpus
    // x17 clustering, so incremental == batch is hash-asserted every
    // round; the cost benched is base build + the incremental delta.
    "x121_dedup_index_extend" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250)
      val path = dedupIndexPath(s, dir, "extend")
      Dedup.ensureDedupIndex(base, path)
      Dedup.extendDedupIndex(base, batch, path)
      Dedup.readDedupClusters(d, path).orderBy(col("doc_id"))
    }),

    // the LSH-keyed at-rest index, extended incrementally — x121's
    // cycle with banded minhash keys as the persisted probe structure:
    // the 100x-capable extension (the exact prefix probe's batch x base
    // candidate mass grows with the base on saturated vocabularies -
    // measured 386 s at a fixed 2000-doc batch / 498k base, vs this
    // path's collision-bounded key join; SCALE.md round 12). Oracle =
    // the exact full-corpus clustering, x07's discipline: at the
    // correctness SF the auto-banding lands on r=2 whose measured
    // recall is exact, so LSH == exact is hash-asserted every round.
    "x137_dedup_index_extend_lsh" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250)
      val path = dedupIndexPath(s, dir, "extendlsh")
      Dedup.ensureDedupIndexLsh(base, path)
      Dedup.extendDedupIndexLsh(base, batch, path)
      Dedup.readDedupClusters(d, path).orderBy(col("doc_id"))
    }),

    // sampled-centroid training as a DECLARED query: the hash-ordered
    // 100-row sample (ORDER BY md5('ktrain:'||vec_id) - both engines
    // order the same hex strings), re-identified 0..s-1 by vec_id
    // order, then the identical unrolled Lloyd arithmetic; centroid
    // vectors emitted per-dim at 6 dp. Pins trainCentroidsSampled's
    // semantics cross-engine - the measured 6x training remedy
    // (SCALE.md round 11) is hash-checked, not just timed.
    "x122_sampled_centroids" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.trainCentroidsSampled(e, nCentroids = 8,
        maxTrainRows = 100)
        .select(col("vec_id").as("cent_id"),
          posexplode(col("embedding")).as(Seq("p", "v")))
        .select(col("cent_id"), (col("p") + 1).cast("long").as("d"),
          round(col("v").cast("double"), 6).as("v"))
        .orderBy(col("cent_id"), col("d"))
    }),

    // two-level (coarse-quantized) IVF assignment as a DECLARED,
    // hash-checked query: ~sqrt(k) coarse groups trained over the k
    // adaptive centroids, each vector routed coarse-then-fine
    // (2*n*sqrt(k) work instead of the flat n*k — the measured
    // x94/x39 second-decade lever, SCALE.md round 11). The oracle
    // replicates BOTH k-means levels and both argmax stages, so the
    // approximate route's exact semantics are pinned every round.
    "x120_assign_hier" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.assignCellsCoarse(e,
        Similarity.trainCentroids(e, Similarity.adaptiveCellCount(e)))
        .select(col("cid").as("vec_id"), col("cell"))
        .orderBy(col("vec_id"))
    }),

    // real-BPE token accounting under the checked-in training-ordered
    // 64-merge fixture — the APPLY half of x73's pair-count trainer, so
    // token budgets (x26/x63/x107) can price in true tokenizer units
    // instead of x01's heuristic. The merge chain evaluates once per
    // DISTINCT word (vocabulary-bounded); the corpus-scale work is one
    // explode + keyed join + partial-aggregated groupBy.
    "x119_bpe_token_count" -> ((s, dir) =>
      TextAnalysis.bpeTokenCount(docs(s, dir)).orderBy(col("doc_id"))),

    // asymmetric shingle CONTAINMENT pairs — the snippet-in-document
    // near-dup Jaccard structurally misses (inter/min vs inter/union);
    // hashed inverted index + exact verify, same discipline as x06
    "x123_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), n = 3, threshold = 0.9)
        .orderBy(col("da"), col("db"))),

    // snippet-in-doc containment over CONTENT-DEFINED chunk
    // fingerprints — x123's production-scale remedy: chunk boundaries
    // anchored where a token hashes 0 mod 8 are alignment-invariant,
    // and chunk-fp document frequency is bounded by TRUE duplication,
    // not vocabulary. Chunks in >100 docs are corpus boilerplate and
    // leave both score sides (semantics-bearing — see
    // cdcContainmentPairs), which is also what bounds the join where
    // the corpus is wall-to-wall manufactured dups (SCALE.md round 12)
    "x140_cdc_containment" -> ((s, dir) =>
      Dedup.cdcContainmentPairs(docs(s, dir), p = 8, threshold = 0.5)
        .orderBy(col("da"), col("db"))),

    // the CDC containment artifacts at rest, extended incrementally —
    // x137's cycle for the containment family: ensure chunks+pairs on
    // the first half, extendCdcIndex with the second (the batch is
    // chunked ALONE — per-doc boundaries make chunks(base)∪chunks(batch)
    // == chunks(union) exactly — and the pair stage re-runs over the
    // skinny at-rest chunk relation, never re-tokenizing the corpus;
    // the hot-chunk cap + denominators recompute over the union, so a
    // chunk the batch pushes past df=100 correctly leaves every pair),
    // then read the pair relation. Oracle = the full-corpus x140 chain
    "x142_cdc_index_extend" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250)
      val path = dedupIndexPath(s, dir, "cdc")
      Dedup.ensureCdcIndex(base, path)
      Dedup.extendCdcIndex(base, batch, path)
      Dedup.readCdcPairs(s, path).orderBy(col("da"), col("db"))
    }),

    // the containment family's recall audit — x136's discipline: one
    // plan pinning how many exact shingle-containment pairs (x123's
    // chain at 0.9) the production CDC detector (x140's at 0.5) also
    // surfaces; a chunking or cap change that silently drops snippet
    // coverage hash-mismatches here every round
    "x143_containment_audit" -> ((s, dir) =>
      Dedup.containmentAudit(docs(s, dir), n = 3, exactThreshold = 0.9,
        p = 8, cdcThreshold = 0.5)),

    // the containment family's auto-switch — x133's sampled-probe
    // discipline applied to x123: a 1024-doc md5-ordered sample's
    // ACTUAL prefix-candidate mass (Σ over containment-prefix rows of
    // df − 1, extrapolated per doc) decides the exact shingle join
    // (x123) vs the CDC chunk detector (x140, the branch that
    // completes where the exact join's ~n² saturation mass OOMs —
    // SCALE.md round 12). Cutoff 32 cand/doc, the family constant; the
    // decision changes declared semantics, so the oracle replicates
    // probe + decision + both chains and selects with the identical
    // comparison.
    // the probe's corpus-static shingle-df relation rides at rest
    // (value-identical, so the decision and this hash cannot move):
    // the first pass per corpus builds it, every later pass — bench
    // passes, repeated pipeline entries — pays a vocabulary-bounded
    // scan instead of re-shingling the corpus
    "x141_containment_auto" -> ((s, dir) =>
      Dedup.containmentAuto(docs(s, dir), n = 3, threshold = 0.9,
        p = 8, cdcThreshold = 0.5,
        dfIndexPath = Some(dedupIndexPath(s, dir, "cdf")))
        .orderBy(col("da"), col("db"))),

    // the dedup-cutoff price sheet: verified pairs + touched docs at
    // each candidate threshold, riding the cached pair artifact (x06
    // keeps the build cost measured — one-live-builder protocol)
    "x124_threshold_sweep" -> ((s, dir) =>
      Dedup.thresholdSweep(Dedup.cachedPairs(docs(s, dir)))
        .orderBy(col("t"))),

    // per-source duplicate token-mass ledger: x49's removal spans
    // aggregated to "which source is worth span-dedup and what does it
    // buy" — the sub-document complement of x84's doc-level savings
    "x125_span_dup_ledger" -> ((s, dir) =>
      Dedup.spanDupLedger(docs(s, dir), l = 16).orderBy(col("source"))),

    // tokenizer-efficiency ledger under the REAL merge fixture:
    // chars/BPE-token (byte-priced budgets) + fertility per source
    "x126_tokenizer_efficiency" -> ((s, dir) =>
      TextAnalysis.tokenizerEfficiency(docs(s, dir))
        .orderBy(col("source"))),

    // RefinedWeb-style per-source doc cap, quality-ranked: each source
    // keeps its top-10 docs by x02 quality (deterministic tie-break)
    "x127_source_quality_cap" -> ((s, dir) =>
      graft.ext.Selection.sourceQualityCap(docs(s, dir), cap = 10)
        .orderBy(col("source"), col("rk"))),

    // the COMPOSED x94 production profile as a DECLARED, hash-checked
    // query — every measured second-decade lever pulled in one plan:
    // adaptive cell count (k = n/250), SAMPLED centroid training
    // (Lloyd over a hash-ordered 50·k-row sample — the 6× training
    // remedy, x122's semantics), TWO-LEVEL assignment (coarse-then-fine
    // argmax, ~2·n·√k instead of n·k — x120's semantics), then the
    // cell-local kNN edge/stat step. SCALE.md round 11 measured this
    // composition at 31.2 s vs the exact path's 96.2 s at 100×/k=800
    // for −3·10⁻⁴ mean edge cosine; declaring it makes the production
    // path continuously benched AND oracle-pinned (the x118 pattern),
    // so a refactor can't silently regress it. x94 stays the exact
    // declared twin.
    "x128_knn_production" -> ((s, dir) => {
      val e = emb(s, dir)
      val k = Similarity.adaptiveCellCount(e)
      Similarity.knnGraphAssigned(
        Similarity.assignCellsCoarse(e,
          Similarity.trainCentroidsSampled(e, k, maxTrainRows = 50 * k)),
        k = 5).orderBy(col("vec_id"))
    }),

    // x41's scale-safe parametrization as its own DECLARED query: the
    // df ≤ 100 fingerprint cap (SCALE.md round 11: 20.9 s at 100× where
    // the uncapped winnow self-join's Σdf² = 23.7·10⁹ extrapolates to
    // ~30–40 min; 87% of pairs retained at 10× — the dropped pairs
    // ride boilerplate-hot fingerprints by construction). Output
    // differs from x41 (n_shared no longer counts capped fingerprints)
    // so it carries its OWN oracle with the identical df-cap CTE.
    "x129_substring_overlap_capped" -> ((s, dir) =>
      Dedup.substringOverlapPairs(docs(s, dir), k = 16, w = 8,
        minShared = 10, maxDf = Some(100))
        .orderBy(col("da"), col("db"))),

    // SemDeDup's production parametrization: the same sampled-training
    // ∘ two-level-assignment front end as x128 feeding the within-cell
    // dup chain — the declared remedy for x39's second-decade n·k
    // assignment term (exp 1.11 at 10→100×, SCALE.md). x39 stays the
    // exact declared twin; this pins the approximate route's exact
    // semantics (both k-means levels + both argmax stages + the dup
    // join) in its oracle.
    "x130_semantic_dedup_production" -> ((s, dir) => {
      val e = emb(s, dir)
      val k = Similarity.adaptiveCellCount(e)
      Similarity.semanticDedupAssigned(
        Similarity.assignCellsCoarse(e,
          Similarity.trainCentroidsSampled(e, k, maxTrainRows = 50 * k)),
        threshold = 0.4).orderBy(col("vec_id"))
    }),

    // fingerprint WIDTH chosen per corpus — the auto story completing
    // the x82/x117 family the way x07's auto-banding was completed in
    // r11: a 1024-doc hash-ordered sample's ACTUAL C(6,3) combo-key
    // collision mass decides 60 vs 120 bits (cutoff 32 cand/doc, the
    // chooseLshBands constant). Width changes declared semantics, so
    // the oracle replicates the probe + decision themselves (every
    // ingredient is engine-portable), then runs the chosen chain.
    "x132_simhash_auto_neardup" -> ((s, dir) =>
      Dedup.simhashNearDupAuto(docs(s, dir), radius = 3,
        probeIndexPath = Some(dedupIndexPath(s, dir, "shp")))
        .orderBy(col("da"), col("db"))),

    // recall AUDIT of the declared auto-LSH near-dup path against the
    // exact inverted index, in ONE plan — x35's discipline applied to
    // the text family: any future banding/hash-budget change that
    // silently drops borderline pairs flips the measured recall below
    // 1.0 and hash-mismatches the oracle (which pins the exact-side
    // identity). LSH candidates are exact-verified, so hits = |lsh|.
    "x136_lsh_recall_audit" -> ((s, dir) => {
      val d = docs(s, dir)
      val exact = Dedup.jaccardPairsIndexHashed(d, 3, 0.5)
        .select(col("da"), col("db"))
      val lsh = Dedup.jaccardPairsLshAuto(d, 3, 0.5,
        probeIndexPath = Some(dedupIndexPath(s, dir, "lbp")))
        .select(col("da"), col("db"), lit(1L).as("hit"))
      exact.join(lsh, Seq("da", "db"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("n_exact"), col("n_hit"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 6)
            .as("recall"))
    }),

    // corpus-df boilerplate share per doc — the data-driven stop-gram
    // signal (a shingle in > 5% of documents is boilerplate by
    // ubiquity); vocabulary-bounded df relation, linear pipeline
    "x135_boilerplate_fraction" -> ((s, dir) =>
      graft.ext.TextAnalysis.boilerplateStats(docs(s, dir))
        .orderBy(col("doc_id"))),

    // per-source MinHash similarity matrix — the linear sketch twin of
    // x37's exact overlap counts: k=64 per-source min-hash slots over
    // the mod-M hashed shingle universe, pairwise slot agreement as the
    // Jaccard estimate. Shuffles only |sources|×k partial-aggregated
    // minima where x37 shuffles the distinct shingle universe — the
    // 100 TB shape for corpus-level source similarity.
    "x134_source_minhash_matrix" -> ((s, dir) =>
      Dedup.sourceMinhashMatrix(docs(s, dir))
        .orderBy(col("sa"), col("sb"))),

    // x41's cap chosen per corpus — the auto story completing the
    // winnow family the way x07's (r11) and x82's (x132) were: a
    // 1024-doc md5-ordered sample's ACTUAL fingerprint collision mass
    // decides uncapped vs the measured df ≤ 100 cap (cutoff 32
    // cand/doc, the family constant). The cap changes declared
    // semantics, so the oracle replicates probe + decision + both
    // chains and selects with the identical comparison.
    "x133_substring_overlap_auto" -> ((s, dir) =>
      Dedup.substringOverlapAuto(docs(s, dir), k = 16, w = 8,
        minShared = 10,
        probeIndexPath = Some(dedupIndexPath(s, dir, "wnp")))
        .orderBy(col("da"), col("db"))),

    // the kNN edge relation AT REST (x116's resident discipline applied
    // to the graph family): ensureKnnIndex writes cell-local edges +
    // trained centroids once behind the shared fingerprint-stamp seam;
    // every later call — bench passes, downstream graph consumers,
    // cold JVMs — reads the parquet instead of re-paying train + assign
    // + score. Edges are the exact adaptive-cell path, so the oracle
    // replicates them from scratch and the at-rest artifact is
    // hash-checked every round.
    "x131_knn_index_resident" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = knnIndexPath(s, dir, "resident")
      Similarity.ensureKnnIndex(e, path, k = 5)
      Similarity.readKnnEdges(s, path).orderBy(col("cid"), col("nid"))
    }),

    // the at-rest kNN index EXTENDED incrementally — x137's cycle for
    // the graph family: ensure on the first half, extendKnnIndex with
    // the second (batch assigned against the FROZEN base centroids,
    // only touched cell partitions' edges recomputed — the standard
    // IVF maintenance trade), read the full edge relation. Cell-local
    // edges make the incremental result provably equal to a
    // from-scratch build over the union with the same centroids, so
    // the oracle replicates base-trained Lloyd + union assignment +
    // cell edges and hash-asserts the equality every round.
    "x138_knn_index_extend" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = e.filter(col("vec_id") < 250)
      val batch = e.filter(col("vec_id") >= 250)
      val path = knnIndexPath(s, dir, "extend")
      Similarity.ensureKnnIndex(base, path, k = 5)
      Similarity.extendKnnIndex(base, batch, path, k = 5)
      Similarity.readKnnEdges(s, path).orderBy(col("cid"), col("nid"))
    }),

    // the persisted IVF corpus index EXTENDED incrementally — the
    // simplest at-rest extension (no derived edges to touch): the
    // batch is assigned against the frozen base-trained centroids and
    // APPENDED into its cell= partitions; old rows never move. The
    // probe over the extended index must equal the base-trained
    // assignment of the whole union — the oracle replicates
    // base-trained Lloyd + union assignment + the nprobe=2 scoring.
    "x139_ivf_index_extend" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = e.filter(col("vec_id") < 250)
      val batch = e.filter(col("vec_id") >= 250)
      val path = ivfIndexPath(s, dir, "extend")
      Similarity.ensureIvfIndex(base, path, nCentroids = 8)
      Similarity.extendIvfIndex(base, batch, path, nCentroids = 8)
      Similarity.topKIvfIndexed(path, e.filter(col("vec_id") < 10),
        k = 10, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // the at-rest kNN index built by the PRODUCTION profile — x128's
    // sampled-training ∘ two-level-assignment composition wired into
    // the writeKnnIndex/ensureKnnIndex seed itself (the arm x131's
    // resident lifecycle, x138's rebuild leg, and the streaming face's
    // seed/torn-prefix recovery all route through). The exact
    // profile's adaptive-k Lloyd is n·k = O(n²/250) cosines per pass —
    // 354 s at just 180 k vectors (SCALE.md) — where this composition
    // measured 63.9 s at 500 k; declaring the SEED under the oracle
    // (sampled Lloyd + coarse argmax + the same cell-local edge build)
    // makes the production index lifecycle hash-checked end to end, so
    // a builder refactor can't silently fall back to the quadratic
    // path.
    "x144_knn_index_production" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = knnIndexPath(s, dir, "prod")
      Similarity.ensureKnnIndex(e, path, k = 5,
        profile = IndexProfile.Production())
      Similarity.readKnnEdges(s, path).orderBy(col("cid"), col("nid"))
    }),

    // the IVF corpus index under the same production seed — x144's
    // discipline for the OTHER at-rest vector artifact (x44/x139's):
    // sampled Lloyd + two-level assignment build the partitioned
    // corpus, then the standard nprobe=2 partition-pruned probe runs
    // against the sampled centroids. Oracle replicates the whole
    // lifecycle (production front end + probe + scoring) from scratch,
    // so neither the builder nor the probe can silently drop to the
    // quadratic seed or a different assignment route.
    "x145_ivf_index_production" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir, "prod")
      Similarity.ensureIvfIndex(e, path,
        nCentroids = Similarity.adaptiveCellCount(e),
        profile = IndexProfile.Production())
      Similarity.topKIvfIndexed(path, e.filter(col("vec_id") < 10),
        k = 10, nprobe = 2).orderBy(col("qid"), col("rank"))
    }),

    // the production index EXTENDED incrementally — x138's lifecycle
    // under the Production profile: seed sampled+coarse on the base
    // half, extend with the batch assigned through the SAME two-level
    // route against the frozen base model (a pure function of (vector,
    // centroid set), which is what makes extended == from-scratch hold
    // per profile; ExtSpec asserts it, this declares it). The oracle
    // trains the production front end on the BASE half and assigns the
    // union — exactly what the incremental result must equal.
    "x146_knn_index_production_extend" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = e.filter(col("vec_id") < 250)
      val batch = e.filter(col("vec_id") >= 250)
      val path = knnIndexPath(s, dir, "prodext")
      Similarity.ensureKnnIndex(base, path, k = 5,
        profile = IndexProfile.Production())
      Similarity.extendKnnIndex(base, batch, path, k = 5,
        profile = IndexProfile.Production())
      Similarity.readKnnEdges(s, path).orderBy(col("cid"), col("nid"))
    }),

    // recall@10 vs exact brute-force ground truth of BOTH index
    // profiles probed identically (same adaptive k, same nprobe=2) —
    // completing the audit family (x35 audits exact-IVF vs brute,
    // x136 LSH, x143 containment): x144–x146 pin the production PATH
    // by oracle equality, this declares what the sampled-training +
    // two-level-assignment approximation COSTS in retrieval next to
    // the exact model it replaces. Both recalls share one ground
    // truth rather than comparing probe lists directly: two
    // legitimately different local Lloyd optima can rank different
    // (equally good) neighbors, so list overlap under-reads quality —
    // recall-vs-brute is the statistic that actually moves when the
    // sampling degrades. The ExtSpec floor (mean prod recall ≥ mean
    // exact recall − 0.05) fails any sampling/coarse-assignment
    // change that quietly degrades retrieval even when the oracles
    // move with the code.
    "x147_production_recall_audit" -> ((s, dir) => {
      val e = emb(s, dir)
      // queries DISJOINT from the exact profile's first-k Lloyd seeds
      // (vec_id < k are its initial centroids, and querying a seed
      // flatters the exact index — measured 0.85 vs 0.42 on unbiased
      // queries, SCALE.md round 15): 50 queries from vec_id 100
      val q = e.filter(col("vec_id") >= 100 && col("vec_id") < 150)
      val k = Similarity.adaptiveCellCount(e)
      val pPath = ivfIndexPath(s, dir, "prod")
      val ePath = ivfIndexPath(s, dir, "exactadaptive")
      Similarity.ensureIvfIndex(e, pPath, nCentroids = k,
        profile = IndexProfile.Production())
      Similarity.ensureIvfIndex(e, ePath, nCentroids = k,
        profile = IndexProfile.Exact)
      val brute = Similarity.topKBrute(e, q, k = 10)
        .select(col("qid"), col("cid"))
      val exact = Similarity.topKIvfIndexed(ePath, q, k = 10, nprobe = 2)
        .select(col("qid"), col("cid"), lit(1).as("hx"))
      val prod = Similarity.topKIvfIndexed(pPath, q, k = 10, nprobe = 2)
        .select(col("qid"), col("cid"), lit(1).as("hp"))
      brute.join(exact, Seq("qid", "cid"), "left")
        .join(prod, Seq("qid", "cid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("hx")).as("n_hit_exact"),
          count(col("hp")).as("n_hit_prod"))
        .select(col("qid"), col("n_hit_exact"), col("n_hit_prod"),
          round(col("n_hit_exact").cast("double") / 10, 6)
            .as("recall_exact"),
          round(col("n_hit_prod").cast("double") / 10, 6)
            .as("recall_prod"))
        .orderBy(col("qid"))
    }),

    // the HIER-trained production index — the O(k^1.5) trainer that
    // removes the training ceiling the kMax cap trades around
    // (coarse-restricted Lloyd: each sample row argmaxes only its best
    // coarse group's member centroids, ~2·s·√k per pass vs s·k —
    // measured 36.9 s vs 626.4 s at k=4096, quality −0.0011,
    // SCALE.md round 15). Declared like x144 so the builders' THIRD
    // training route is oracle-pinned end to end: sampling, first-k
    // init, three coarse-restricted passes (coarse model re-derived
    // from the CURRENT centroids each pass), two-level corpus
    // assignment, cell-local edges.
    "x148_knn_index_hier" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = knnIndexPath(s, dir, "hier")
      Similarity.ensureKnnIndex(e, path, k = 5,
        profile = IndexProfile.Production(hierTrain = true))
      Similarity.readKnnEdges(s, path).orderBy(col("cid"), col("nid"))
    }),

    // the IVF corpus artifact under the hier trainer — x148's
    // discipline for the other at-rest vector artifact (x145's twin):
    // coarse-restricted training seeds the partitioned corpus, the
    // standard nprobe=2 partition-pruned probe runs against the
    // hier-trained centroids. Oracle replicates the whole lifecycle
    // from scratch, so neither builder face can silently drop to a
    // different trainer or assignment route.
    "x149_ivf_index_hier" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir, "hier")
      Similarity.ensureIvfIndex(e, path,
        nCentroids = Similarity.adaptiveCellCount(e),
        profile = IndexProfile.Production(hierTrain = true))
      Similarity.topKIvfIndexed(path, e.filter(col("vec_id") < 10),
        k = 10, nprobe = 2).orderBy(col("qid"), col("rank"))
    }),

    // x150: the production READ dial declared end to end — nprobe sized
    // by adaptiveNprobe (probed corpus FRACTION held as the cell count
    // scales; frac = 0.5 so the validation-scale k = 8 probes 4 cells,
    // distinct from x44/x145/x149's literal nprobe = 2). Reuses x149's
    // at-rest hier index (same stamp ⇒ ensure no-ops), so the query
    // measures the probe route itself.
    "x150_ivf_adaptive_nprobe" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir, "hier")
      val kc = Similarity.adaptiveCellCount(e)
      Similarity.ensureIvfIndex(e, path, nCentroids = kc,
        profile = IndexProfile.Production(hierTrain = true))
      Similarity.topKIvfIndexed(path, e.filter(col("vec_id") < 10),
        k = 10, nprobe = Similarity.adaptiveNprobe(kc, frac = 0.5))
        .orderBy(col("qid"), col("rank"))
    }),

    // x151: the round-16 hierKMin AUTO-SWITCH declared end to end — a
    // Production build with no hierTrain flag and its hierKMin
    // threshold lowered to the validation cell count, so the resolution
    // routes the hier trainer exactly as a capped production corpus
    // would (a k = 8192 seed stamps hier-50-0-1 the same way, SCALE.md
    // round 16). The oracle is x149's hier chain VERBATIM: if the
    // switch fails to bind (or binds off-by-one), the build lands on
    // the sampled trainer and every centroid-derived row moves. Own
    // index dir, so the auto route BUILDS rather than no-oping against
    // x149's identically-stamped artifact.
    "x151_ivf_hier_autoswitch" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir, "hierauto")
      val kc = Similarity.adaptiveCellCount(e)
      Similarity.ensureIvfIndex(e, path, nCentroids = kc,
        profile = IndexProfile.Production(hierKMin = kc))
      Similarity.topKIvfIndexed(path, e.filter(col("vec_id") < 10),
        k = 10, nprobe = 2).orderBy(col("qid"), col("rank"))
    }),

    // x152: the round-16 adaptive-nprobe READ DEFAULT declared end to
    // end — topKIvfIndexed with NO nprobe argument, the probe width
    // coming entirely from the index's cell count and the probed
    // fraction (x150's 0.5). The oracle is x150's adaptive chain
    // VERBATIM: if the default stops deriving from the fraction (or the
    // floor misapplies), the probe narrows to a different cell set and the
    // hashes split. Reuses x149/x150's at-rest hier index (same stamp,
    // ensure no-ops), so the query measures the defaulted read route
    // itself.
    "x152_ivf_adaptive_default" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir, "hier")
      Similarity.ensureIvfIndex(e, path,
        nCentroids = Similarity.adaptiveCellCount(e),
        profile = IndexProfile.Production(hierTrain = true))
      Similarity.topKIvfIndexed(path, e.filter(col("vec_id") < 10),
        k = 10, probeFrac = 0.5).orderBy(col("qid"), col("rank"))
    }),

    // x153: the drift SIGNAL declared — x139's exact lifecycle
    // (base-trained frozen model, union assigned via the incremental
    // extension) summarized into the one-row cell-load relation the
    // streaming refresh policy reads (its `refreshImbalance` threshold
    // compares against `imbalance`). The oracle re-derives the same
    // loads from the replicated assignment, so the stats can't drift
    // from the route they summarize; the Spark side reads ONLY the
    // cell partition column (footer-bound scan at any index size).
    "x153_ivf_drift_stats" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = e.filter(col("vec_id") < 250)
      val batch = e.filter(col("vec_id") >= 250)
      val path = ivfIndexPath(s, dir, "drift")
      Similarity.ensureIvfIndex(base, path, nCentroids = 8)
      Similarity.extendIvfIndex(base, batch, path, nCentroids = 8)
      Similarity.ivfCellLoadStats(s, path)
    }),

    // x154: x151's auto-switch pin for the OTHER index family — the
    // kNN edge artifact, whose stamp carries hierKMin raw because its
    // cell count is DERIVED (adaptiveCellCount) rather than explicit.
    // A Production build with no hierTrain flag under the lowered
    // threshold must be bit-identical to x148's explicit hier build;
    // oracle = x148's hier chain verbatim.
    "x154_knn_hier_autoswitch" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = knnIndexPath(s, dir, "hierauto")
      val kc = Similarity.adaptiveCellCount(e)
      Similarity.ensureKnnIndex(e, path, k = 5,
        profile = IndexProfile.Production(hierKMin = kc))
      Similarity.readKnnEdges(s, path).orderBy(col("cid"), col("nid"))
    }),

    // x155: the MASS-weighted probe declared end to end — each query
    // probes cells in descending centroid cosine until HALF the
    // landed row mass is covered (massFrac = 0.5, mirroring x150's
    // fraction so the two probe disciplines differ only in what the
    // fraction is OF: cell count there, row mass here — under skew
    // the difference is the 0.912 → ≥0.95 recall gap, SCALE.md r18).
    // Reuses x149/x150's at-rest hier index (same stamp, ensure
    // no-ops); the oracle replicates the per-cell loads and the
    // cumulative-mass prefix window from the same assignment CTEs.
    "x155_ivf_mass_probe" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir, "hier")
      Similarity.ensureIvfIndex(e, path,
        nCentroids = Similarity.adaptiveCellCount(e),
        profile = IndexProfile.Production(hierTrain = true))
      Similarity.topKIvfIndexedMass(path, e.filter(col("vec_id") < 10),
        k = 10, massFrac = 0.5).orderBy(col("qid"), col("rank"))
    }),

    // x156: the refresh policy's DECISION FUNCTION declared (round-18
    // verdict #5 — "every default rides the gate"): x153's drift
    // relation extended with the threshold comparison and the
    // futility-slack arithmetic the streaming maintenance step
    // actually evaluates (Streams.ivfPolicy). The literals
    // come from the SAME constants the policy reads
    // (Similarity.refreshImbalanceDefault, Streams.FutileSlack), so a
    // default change moves this query's rows and the DuckDB hash
    // splits until the oracle is consciously updated to match.
    "x156_refresh_decision" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = e.filter(col("vec_id") < 250)
      val batch = e.filter(col("vec_id") >= 250)
      val path = ivfIndexPath(s, dir, "drift")
      Similarity.ensureIvfIndex(base, path, nCentroids = 8)
      Similarity.extendIvfIndex(base, batch, path, nCentroids = 8)
      Similarity.ivfCellLoadStats(s, path).select(
        col("n_cells"), col("n_rows"), col("max_cell"),
        col("mean_cell"), col("imbalance"),
        lit(Similarity.refreshImbalanceDefault).as("threshold"),
        (col("imbalance") > Similarity.refreshImbalanceDefault)
          .as("would_refresh"),
        lit(graft.streaming.Streams.FutileSlack).as("futile_slack"),
        round(col("imbalance") * graft.streaming.Streams.FutileSlack, 6)
          .as("rearm_bound"))
    })
  )

  /** The x97 blocklist literal — stands in for a C4-style badwords list
    * (terms chosen to hit the synthetic corpus vocabulary so the gate
    * exercises both flagged and clean documents).
    */
  private lazy val Blocklist = Seq("slow", "big", "spam")

  /** The literal term query behind x51/x52 — shared so the lexical leg
    * of the hybrid fusion is exactly the declared BM25 ranking.
    */
  private lazy val RetrievalTerms = Seq("spark", "scan", "dup")

  /** Scratch location for a query's at-rest IVF index. Suffixed with the
    * Spark applicationId so two concurrent JVMs over the same data dir
    * never interleave one run's mode(overwrite) delete with another's
    * probe scan (and an Int-hashCode collision across dirs can't alias
    * paths — the dir is embedded sanitized, not hashed). Stable WITHIN a
    * JVM, which is what lets x47's ensureIvfIndex reuse the index across
    * bench passes. Registered for recursive delete on JVM exit so
    * repeated runs don't grow tmp unbounded.
    */
  private[graft] def ivfIndexPathForTest(s: SparkSession, dir: String,
      tag: String): String = ivfIndexPath(s, dir, tag)

  private def ivfIndexPath(s: SparkSession, dir: String,
      tag: String): String = scratchPath(s, dir, "graft_ivf_" + tag)

  /** x116's at-rest dedup-index scratch — same lifecycle contract as
    * [[ivfIndexPath]]: stable within a JVM (so ensureDedupIndex reuses
    * across bench passes), applicationId-suffixed, exit-cleaned.
    */
  private def dedupIndexPath(s: SparkSession, dir: String,
      tag: String): String = scratchPath(s, dir, "graft_dedup_" + tag)

  /** x131's at-rest kNN-index scratch — same lifecycle contract. */
  private def knnIndexPath(s: SparkSession, dir: String,
      tag: String): String = scratchPath(s, dir, "graft_knn_" + tag)

  private def scratchPath(s: SparkSession, dir: String,
      prefix: String): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      prefix + "_" + s.sparkContext.applicationId + "_" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_"))
    cleanupOnExit(f)
    f.toString
  }

  private val exitCleanups =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def cleanupOnExit(f: java.io.File): Unit =
    if (exitCleanups.add(f.getPath)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm))
          x.delete(): Unit
        }
        rm(f)
      }))
    }

  private val shingleCte =
    """WITH sh AS (
         SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                       for i in generate_series(1, len(ws)-2)]) AS sg
         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents)
         WHERE len(ws) >= 3)"""

  private def jaccardPairsSqlAt(threshold: String) =
    shingleCte + s"""
       SELECT * FROM (
         SELECT a.doc_id AS da, b.doc_id AS db,
                round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                      (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))), 6) AS j
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
       WHERE j >= $threshold ORDER BY da, db"""

  private val jaccardPairsSql = jaccardPairsSqlAt("0.5")

  /** The x17 contract as SQL — exact shingle-Jaccard pairs, mirrored
    * edges, recursive-CTE connected components, min-label per node.
    * Shared by x17 (live build) and x116 (the at-rest artifact read):
    * both produce the identical full-corpus labeling.
    */
  private val dedupClustersSql =
    shingleCte.replaceFirst("WITH", "WITH RECURSIVE") + """,
         pairs AS (
           SELECT da, db FROM (
             SELECT a.doc_id AS da, b.doc_id AS db,
                    round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                          (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))), 6) AS j
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
           WHERE j >= 0.5),
         edges AS (SELECT da AS src, db AS dst FROM pairs
                   UNION ALL SELECT db, da FROM pairs),
         reach(node, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.node)
         SELECT node AS doc_id, min(lbl) AS cluster
         FROM reach GROUP BY node ORDER BY doc_id"""

  /** x119's oracle, GENERATED from the same checked-in merges fixture
    * the Spark path loads — the nested `replace` chain is identical
    * text on both engines (plain literal replace, no regex), applied
    * over the distinct-word CTE with the same ␟sym␞ wrapped-symbol
    * encoding (see [[graft.ext.TextAnalysis.bpeSegment]] for why the
    * two-separator wrap makes one replace per merge exactly the
    * tokenizer's merge-all-occurrences pass).
    */
  private lazy val bpeCountCtes: String = {
    val o = "\u001f"; val c = "\u001e"
    val seg0 = s"regexp_replace(word, '(.)', '$o\\1$c', 'g')"
    val chain = graft.ext.TextAnalysis.bpeMerges.foldLeft(seg0) {
      case (acc, (a, b)) => s"replace($acc, '$o$a$c$o$b$c', '$o$a$b$c')"
    }
    s"""WITH dw AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
           FROM documents),
       vocab AS (SELECT DISTINCT word FROM dw),
       wc AS (SELECT word,
                CAST(length(seg) - length(replace(seg, '$o', ''))
                  AS BIGINT) AS n_sub
              FROM (SELECT word, $chain AS seg FROM vocab)),
       agg AS (SELECT dw.doc_id, count(*) AS n_words,
                 CAST(sum(wc.n_sub) AS BIGINT) AS n_bpe_tokens
               FROM dw JOIN wc USING (word) GROUP BY 1)"""
  }

  private lazy val bpeOracleSql: String = bpeCountCtes + """
       SELECT d.doc_id, coalesce(agg.n_words, 0) AS n_words,
              coalesce(agg.n_bpe_tokens, 0) AS n_bpe_tokens
       FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       ORDER BY d.doc_id"""

  /** x126: the x119 word-cost CTEs aggregated to the per-source
    * tokenizer-efficiency ledger.
    */
  private lazy val tokenizerEffSql: String = bpeCountCtes + """,
       per AS (SELECT d.doc_id, d.source, length(d.text) AS nc,
                      coalesce(agg.n_words, 0) AS nw,
                      coalesce(agg.n_bpe_tokens, 0) AS nb
               FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id)
       SELECT source, count(*) AS n_docs,
              CAST(sum(nc) AS BIGINT) AS n_chars,
              CAST(sum(nw) AS BIGINT) AS n_words,
              CAST(sum(nb) AS BIGINT) AS n_bpe,
              round(sum(nc)::DOUBLE / sum(nb), 6) AS chars_per_token,
              round(sum(nb)::DOUBLE / sum(nw), 6) AS fertility
       FROM per GROUP BY source ORDER BY source"""

  private val cosSql =
    """round(list_dot_product(a.e, b.e) /
             (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)"""

  /** DuckDB CTE chain reproducing [[graft.ext.Similarity.planeWeight]] +
    * `hyperplaneBucket` bit-exactly: splitmix64 weights (mod-2^64 via
    * 32-bit split multiplication so HUGEINT intermediates never overflow),
    * float32-rounded, bucket id = packed projection sign bits per table.
    * Emits CTEs `e(vec_id, e)` and `buckets(vec_id, t, b)`.
    */
  private def bucketsCte(tables: Int, nbits: Int, dim: Int): String =
    s"""${planeWeightsCte(tables, nbits, dim)},
       e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       proj AS (SELECT vec_id, t, bit, list_dot_product(e, wv) AS p
                FROM e CROSS JOIN pl),
       buckets AS (SELECT vec_id, t,
                     sum(CASE WHEN p >= 0 THEN 1::BIGINT << bit ELSE 0 END) AS b
                   FROM proj GROUP BY vec_id, t)"""

  /** The splitmix64 weight-matrix CTEs alone (`pw`, list form `pl`) —
    * shared by [[bucketsCte]] and the x57 random-projection oracle, both
    * of which replicate [[graft.ext.Similarity.planeWeight]] bit-exactly.
    */
  private def planeWeightsCte(tables: Int, nbits: Int, dim: Int): String = {
    // (expr * c) mod 2^64 with expr in [0, 2^64): hi/lo split keeps every
    // intermediate below 2^65 (HUGEINT is signed 128-bit)
    def mulmod(expr: String, c: BigInt): String = {
      val ch = c >> 32
      val cl = c & 0xFFFFFFFFL
      s"((($expr) % 4294967296) * $cl + (((($expr) % 4294967296) * $ch + " +
        s"(($expr) // 4294967296) * $cl) % 4294967296) * 4294967296) % 18446744073709551616"
    }
    val k1 = BigInt("9E3779B97F4A7C15", 16)
    val k2 = BigInt("BF58476D1CE4E5B9", 16)
    val k3 = BigInt("94D049BB133111EB", 16)
    s"""z0 AS (
         SELECT ts.t AS t, bs.bit AS bit, ds.d AS d,
                (((bs.bit + ts.t*$nbits)::HUGEINT * $k1 + ds.d::HUGEINT * $k2)
                 % 18446744073709551616) AS z
         FROM generate_series(0, ${tables - 1}) AS ts(t),
              generate_series(0, ${nbits - 1}) AS bs(bit),
              generate_series(0, ${dim - 1}) AS ds(d)),
       z1 AS (SELECT t, bit, d,
                ${mulmod("xor(z::UBIGINT, (z::UBIGINT >> 30))::HUGEINT", k2)} AS z
              FROM z0),
       z2 AS (SELECT t, bit, d,
                ${mulmod("xor(z::UBIGINT, (z::UBIGINT >> 27))::HUGEINT", k3)} AS z
              FROM z1),
       pw AS (SELECT t, bit, d,
                CAST(CAST((xor(z::UBIGINT, (z::UBIGINT >> 31)) >> 11)::DOUBLE
                          / 4503599627370496.0 - 1.0 AS REAL) AS DOUBLE) AS w
              FROM z2),
       pl AS (SELECT t, bit, list(w ORDER BY d) AS wv FROM pw GROUP BY t, bit)"""
  }

  /** DuckDB CTE chain replicating [[graft.ext.Similarity.trainCentroids]]
    * bit-exactly — the unrolled Lloyd iterations (no recursion: `iters`
    * is a fixed plan-time constant on both sides). Per iteration:
    * assignment = rounded-cosine argmax with the low-id tie-break
    * (row_number ORDER BY ccos DESC, cent_id ≡ Spark's max_by on
    * (cc, -cent_id)); new centroid = per-dimension mean over values
    * quantized to 1e-6 — an exact BIGINT sum, then DOUBLE/n/1e6 (two
    * IEEE-correctly-rounded divisions) cast through REAL exactly like
    * Spark's float centroid array. Emits `cent(cent_id, ce)`; expects a
    * preceding `e(vec_id, e DOUBLE[])` CTE.
    */
  private def kmeansCte(nCent: Int, iters: Int, dim: Int): String =
    kmeansCteSeed(nCent.toString, iters, dim)

  /** The x94-family adaptive cell count as SQL — identical arithmetic
    * to [[graft.ext.Similarity.adaptiveCellCount]] over the same `e`
    * CTE (including the default `kMax = 4096` model-cost ceiling), so
    * the oracle derives k from the corpus exactly like the declared
    * query does.
    */
  private val adaptiveCellsSql = "(SELECT least(4096, greatest(8, count(*) // 250)) FROM e)"

  private def kmeansCteSeed(nCentSql: String, iters: Int,
      dim: Int): String = kmeansCtePrefixed(nCentSql, iters, dim)

  /** [[kmeansCteSeed]] with every CTE name prefixed `p` and the source
    * relation `src` (columns (vec_id, e)) — the second-level chain
    * x120's coarse quantizer needs: the SAME unrolled Lloyd arithmetic
    * run over the first level's `cent` relation instead of the corpus.
    * Emits `${p}cent(cent_id, ce)`.
    */
  private def kmeansCtePrefixed(nCentSql: String, iters: Int, dim: Int,
      src: String = "e", p: String = ""): String = {
    val init =
      s"${p}cent0 AS (SELECT vec_id AS cent_id, e AS ce FROM $src WHERE vec_id < $nCentSql)"
    val steps = (0 until iters).map { i =>
      s"""${p}cc$i AS (SELECT x.vec_id AS vid, c.cent_id,
                round(list_dot_product(x.e, c.ce) /
                      (sqrt(list_dot_product(x.e, x.e)) *
                       sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
              FROM $src x CROSS JOIN ${p}cent$i c),
       ${p}asg$i AS (SELECT vid, cent_id AS cell FROM (
                SELECT vid, cent_id,
                       row_number() OVER (PARTITION BY vid
                                          ORDER BY ccos DESC, cent_id) AS rn
                FROM ${p}cc$i) t WHERE rn = 1),
       ${p}m$i AS (SELECT a.cell, g.d AS d,
                 sum(CAST(round(x.e[g.d] * 1000000.0) AS BIGINT)) AS s,
                 count(*) AS n
               FROM ${p}asg$i a JOIN $src x ON x.vec_id = a.vid,
                    generate_series(1, $dim) AS g(d)
               GROUP BY 1, 2),
       ${p}cent${i + 1} AS (SELECT cell AS cent_id,
                 list(CAST(CAST(CAST(s AS DOUBLE) / n / 1000000.0 AS REAL)
                           AS DOUBLE) ORDER BY d) AS ce
               FROM ${p}m$i GROUP BY cell)"""
    }
    (init +: steps).mkString(",\n       ") +
      s",\n       ${p}cent AS (SELECT cent_id, ce FROM ${p}cent$iters)"
  }

  /** The composed x94-family PRODUCTION front end in SQL, shared by the
    * x128/x130 oracles: hash-ordered 50·k-row sample (k adaptive) →
    * vec_id-order re-id → the prefixed Lloyd chain over the sample
    * (x122's semantics, parametrized) → the two-level coarse-then-fine
    * argmax over the SAMPLED centroids (x120's semantics, retargeted
    * from `cent` to `scent`). Expects `e(vec_id, e)` upstream; emits
    * `s2(vec_id, cell)` — exactly what
    * `assignCellsCoarse(e, trainCentroidsSampled(e, k, 50·k))` returns.
    */
  private def productionAssignCtes: String =
    productionAssignCtesFrom("e")

  /** [[productionAssignCtes]] with the TRAINING source parametrized —
    * the extension-lifecycle oracles (x146) train on the base half
    * while every vector (base ∪ batch) is assigned; `train` must be a
    * CTE with (vec_id, e). Assignment always runs over `e`.
    */
  private def productionAssignCtesFrom(train: String): String =
    s"""${sampledTrainCtes(train)},
       ${kmeansCtePrefixed(
        s"(SELECT least(4096, greatest(8, count(*) // 250)) FROM $train)",
        iters = 3, dim = 64, src = "samp", p = "s")},
       $twoLevelAssignTail"""

  /** The shared hash-ordered 50·k sampling front (ranked/samp0/samp)
    * of both production trainers' oracles. */
  private def sampledTrainCtes(train: String,
      materialized: Boolean = false): String = {
    // DuckDB inlines CTEs by default; the hier chain references `samp`
    // in every training pass, so without materialization the inlined
    // scan tree re-opens the parquet per reference and can exhaust the
    // process fd limit. AS MATERIALIZED pins the sample to one scan.
    val m = if (materialized) "MATERIALIZED " else ""
    s"""ranked AS $m(SELECT vec_id, e,
                row_number() OVER (ORDER BY
                  md5('ktrain:' || CAST(vec_id AS VARCHAR)),
                  vec_id) AS rn
              FROM $train),
       samp0 AS $m(SELECT vec_id, e FROM ranked
                 WHERE rn <= (SELECT 50 * least(4096, greatest(8, count(*) // 250))
                              FROM $train)),
       samp AS $m(SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                  AS BIGINT) AS vec_id, e
                FROM samp0)"""
  }

  /** The two-level CORPUS-assignment tail shared by the production and
    * hier front ends: coarse-quantize `scent` (whatever trainer
    * produced it), then assign every row of `e` coarse-then-fine —
    * emits s2(vec_id, cell). Verbatim the round-14 text, factored. */
  private def twoLevelAssignTail: String =
    s"""centsrc AS (SELECT cent_id AS vec_id, ce AS e FROM scent),
       ${kmeansCtePrefixed(
        "(SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM centsrc)",
        iters = 3, dim = 64, src = "centsrc", p = "g")},
       grpassign AS (SELECT cent_id, cent_e, cent_n, grp FROM (
           SELECT c.cent_id, c.ce AS cent_e,
                  sqrt(list_dot_product(c.ce, c.ce)) AS cent_n,
                  g.cent_id AS grp,
                  row_number() OVER (PARTITION BY c.cent_id ORDER BY
                    round(list_dot_product(c.ce, g.ce) /
                          (sqrt(list_dot_product(c.ce, c.ce)) *
                           sqrt(list_dot_product(g.ce, g.ce))), 6) DESC,
                    g.cent_id) AS rn
           FROM scent c CROSS JOIN gcent g) t WHERE rn = 1),
       s1 AS (SELECT vec_id, grp FROM (
           SELECT x.vec_id, g.cent_id AS grp,
                  row_number() OVER (PARTITION BY x.vec_id ORDER BY
                    round(list_dot_product(x.e, g.ce) /
                          (sqrt(list_dot_product(x.e, x.e)) *
                           sqrt(list_dot_product(g.ce, g.ce))), 6) DESC,
                    g.cent_id) AS rn
           FROM e x CROSS JOIN gcent g) t WHERE rn = 1),
       s2 AS (SELECT vec_id, cell FROM (
           SELECT x.vec_id, ga.cent_id AS cell,
                  row_number() OVER (PARTITION BY x.vec_id ORDER BY
                    round(list_dot_product(x.e, ga.cent_e) /
                          (sqrt(list_dot_product(x.e, x.e)) * ga.cent_n),
                          6) DESC, ga.cent_id) AS rn
           FROM e x JOIN s1 ON s1.vec_id = x.vec_id
                JOIN grpassign ga ON ga.grp = s1.grp) t WHERE rn = 1)"""

  /** One hier-training iteration in SQL — exactly
    * [[graft.ext.Similarity.trainCentroidsHier]]'s pass i: re-derive
    * the coarse model from the CURRENT centroids (3-iter Lloyd over
    * the k-row relation), group the centroids, assign every sample row
    * coarse-then-fine, and take the 1e-6-quantized per-dimension mean
    * — emits hcent${i+1} from hcent$i over `samp`.
    */
  private def hierTrainIterCtes(i: Int, dim: Int): String = {
    val p = s"h$i"
    val pg = s"h${i}g"
    s"""${p}centsrc AS (SELECT cent_id AS vec_id, ce AS e FROM hcent$i),
       ${kmeansCtePrefixed(
        s"(SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM ${p}centsrc)",
        iters = 3, dim = dim, src = s"${p}centsrc", p = pg)},
       ${p}grpassign AS (SELECT cent_id, cent_e, cent_n, grp FROM (
           SELECT c.cent_id, c.ce AS cent_e,
                  sqrt(list_dot_product(c.ce, c.ce)) AS cent_n,
                  g.cent_id AS grp,
                  row_number() OVER (PARTITION BY c.cent_id ORDER BY
                    round(list_dot_product(c.ce, g.ce) /
                          (sqrt(list_dot_product(c.ce, c.ce)) *
                           sqrt(list_dot_product(g.ce, g.ce))), 6) DESC,
                    g.cent_id) AS rn
           FROM hcent$i c CROSS JOIN ${pg}cent g) t WHERE rn = 1),
       ${p}s1 AS (SELECT vec_id, grp FROM (
           SELECT x.vec_id, g.cent_id AS grp,
                  row_number() OVER (PARTITION BY x.vec_id ORDER BY
                    round(list_dot_product(x.e, g.ce) /
                          (sqrt(list_dot_product(x.e, x.e)) *
                           sqrt(list_dot_product(g.ce, g.ce))), 6) DESC,
                    g.cent_id) AS rn
           FROM samp x CROSS JOIN ${pg}cent g) t WHERE rn = 1),
       ${p}s2 AS (SELECT vec_id, cell FROM (
           SELECT x.vec_id, ga.cent_id AS cell,
                  row_number() OVER (PARTITION BY x.vec_id ORDER BY
                    round(list_dot_product(x.e, ga.cent_e) /
                          (sqrt(list_dot_product(x.e, x.e)) * ga.cent_n),
                          6) DESC, ga.cent_id) AS rn
           FROM samp x JOIN ${p}s1 s1 ON s1.vec_id = x.vec_id
                JOIN ${p}grpassign ga ON ga.grp = s1.grp) t WHERE rn = 1),
       ${p}m AS (SELECT a.cell, g.d AS d,
                 sum(CAST(round(x.e[g.d] * 1000000.0) AS BIGINT)) AS s,
                 count(*) AS n
               FROM ${p}s2 a JOIN samp x ON x.vec_id = a.vec_id,
                    generate_series(1, $dim) AS g(d)
               GROUP BY 1, 2),
       hcent${i + 1} AS MATERIALIZED (SELECT cell AS cent_id,
                 list(CAST(CAST(CAST(s AS DOUBLE) / n / 1000000.0 AS REAL)
                           AS DOUBLE) ORDER BY d) AS ce
               FROM ${p}m GROUP BY cell)"""
  }

  /** The HIER production front end in SQL
    * ([[graft.ext.Similarity.trainCentroidsHier]] ∘
    * [[graft.ext.Similarity.assignCellsCoarse]]): the shared sampling,
    * first-k init, three coarse-restricted Lloyd passes, then the
    * standard two-level corpus assignment against the trained
    * centroids. Emits s2(vec_id, cell) like [[productionAssignCtes]].
    */
  private def hierAssignCtesFrom(train: String): String =
    s"""${sampledTrainCtes(train, materialized = true)},
       hcent0 AS MATERIALIZED (SELECT vec_id AS cent_id, e AS ce FROM samp
                  WHERE vec_id < (SELECT least(4096, greatest(8, count(*) // 250))
                                  FROM $train)),
       ${(0 until 3).map(i => hierTrainIterCtes(i, 64)).mkString(",\n       ")},
       scent AS MATERIALIZED (SELECT cent_id, ce FROM hcent3),
       $twoLevelAssignTail"""

  /** DuckDB replication of [[graft.ext.Dedup.simhashNearDupAuto]] —
    * the probe + width decision + the chosen pair chain. The combo
    * rows are generated from the SAME Scala combinatorics as the
    * engine's key builder (ascending indices, ascending fold-packing),
    * so the sample's (cid, kv) histogram is identical by construction;
    * the chains themselves are x82's / x117's oracles verbatim (the
    * block-combination keys are a lossless candidate filter, so the
    * chains need only the fingerprints + the Hamming test).
    */
  private def simhashAutoSql: String = {
    val comboRows = (0 until 6).combinations(3).toSeq.zipWithIndex
      .map { case (ix, cid) => s"($cid, ${ix(0)}, ${ix(1)}, ${ix(2)})" }
      .mkString(", ")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       samp AS (SELECT doc_id, text FROM documents
                WHERE length(trim(text)) > 0
                ORDER BY md5('shw:' || CAST(doc_id AS VARCHAR)), doc_id
                LIMIT 1024),
       stoks AS (SELECT doc_id,
                   unnest(list_distinct(regexp_split_to_array(trim(text),
                     '\\s+'))) AS w
                 FROM samp),
       sh0 AS (SELECT doc_id,
                 CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv
               FROM stoks),
       sbits AS (SELECT doc_id, bb.b AS b,
                   CASE WHEN sum(((hv >> bb.b) & 1) * 2 - 1) > 0
                        THEN 1 ELSE 0 END AS bit
                 FROM sh0 CROSS JOIN
                   (SELECT unnest(generate_series(0, 59)) AS b) bb
                 GROUP BY doc_id, bb.b),
       ssh AS (SELECT doc_id,
                 CAST(sum(CAST(bit AS BIGINT) << b) AS BIGINT) AS sh
               FROM sbits GROUP BY doc_id),
       combos AS (SELECT * FROM (VALUES $comboRows)
                  AS t(cid, b0, b1, b2)),
       keyed AS (SELECT s.doc_id, c.cid,
                   ((((sh >> (c.b0 * 10)) & 1023) << 10
                     | ((sh >> (c.b1 * 10)) & 1023)) << 10)
                   | ((sh >> (c.b2 * 10)) & 1023) AS kv
                 FROM ssh s CROSS JOIN combos c),
       mass AS (SELECT coalesce(sum(df * (df - 1)), 0) AS m2 FROM
                  (SELECT cid, kv, count(*) AS df FROM keyed
                   GROUP BY cid, kv) g),
       est AS (SELECT (m2 / 2.0) * (SELECT n FROM nn)
                      / (CAST((SELECT count(*) FROM samp) AS DOUBLE)
                         * (SELECT count(*) FROM samp)) AS e
               FROM mass),
       toks AS (SELECT doc_id,
                  unnest(list_distinct(regexp_split_to_array(trim(text),
                    '\\s+'))) AS w
                FROM documents),
       h AS (SELECT doc_id,
               CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv1,
               CAST('0x' || substr(md5('w2:' || w), 1, 15) AS BIGINT) AS hv2
             FROM toks),
       bits AS (SELECT doc_id, bb.b AS b,
                  CASE WHEN sum(((hv1 >> bb.b) & 1) * 2 - 1) > 0
                       THEN 1 ELSE 0 END AS bit1,
                  CASE WHEN sum(((hv2 >> bb.b) & 1) * 2 - 1) > 0
                       THEN 1 ELSE 0 END AS bit2
                FROM h CROSS JOIN
                  (SELECT unnest(generate_series(0, 59)) AS b) bb
                GROUP BY doc_id, bb.b),
       fps AS (SELECT doc_id,
                 CAST(sum(CAST(bit1 AS BIGINT) << b) AS BIGINT) AS sh1,
                 CAST(sum(CAST(bit2 AS BIGINT) << b) AS BIGINT) AS sh2
               FROM bits GROUP BY doc_id),
       p60 AS (SELECT a.doc_id AS da, b.doc_id AS db,
                 CAST(bit_count(xor(a.sh1, b.sh1)) AS INTEGER) AS hamming
               FROM fps a JOIN fps b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.sh1, b.sh1)) <= 3),
       p120 AS (SELECT a.doc_id AS da, b.doc_id AS db,
                  CAST(bit_count(xor(a.sh1, b.sh1))
                       + bit_count(xor(a.sh2, b.sh2)) AS INTEGER) AS hamming
                FROM fps a JOIN fps b ON a.doc_id < b.doc_id
                WHERE bit_count(xor(a.sh1, b.sh1))
                      + bit_count(xor(a.sh2, b.sh2)) <= 3)
       SELECT da, db, hamming FROM (
         SELECT * FROM p60 WHERE (SELECT e FROM est) <= 32
         UNION ALL
         SELECT * FROM p120 WHERE (SELECT e FROM est) > 32) u
       ORDER BY da, db"""
  }

  /** DuckDB replication of [[graft.ext.Dedup.sourceMinhashMatrix]] —
    * the coefficient pairs are the SAME Scala-computed literals the
    * Spark plan embeds, so the estimator is integer-arithmetic-
    * identical across engines.
    */
  private def sourceMinhashSql(k: Int): String = {
    val rows = graft.ext.Dedup.minhashCoeffs(k).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    val M = graft.ext.Dedup.MinhashMod
    s"""WITH t AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS ws
                   FROM documents),
       ssg AS (SELECT DISTINCT source,
                 (CAST('0x' || substr(md5(unnest(list_distinct(
                    [ws[i]||' '||ws[i+1]||' '||ws[i+2]
                     for i in generate_series(1, len(ws)-2)]))), 1, 15)
                   AS BIGINT)) % $M AS x
               FROM t WHERE len(ws) >= 3),
       co AS (SELECT * FROM (VALUES $rows) AS t(i, a, b)),
       slots AS (SELECT source, i, min((a * x + b) % $M) AS mn
                 FROM ssg CROSS JOIN co GROUP BY source, i)
       SELECT a.source AS sa, b.source AS sb,
              round(sum(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END)::DOUBLE
                    / $k, 6) AS j_hat
       FROM slots a JOIN slots b ON a.i = b.i AND a.source < b.source
       GROUP BY 1, 2 ORDER BY sa, sb"""
  }

  /** DuckDB replication of [[graft.ext.Dedup.substringOverlapAuto]] —
    * mirrors x132's auto-oracle discipline: the cap DECISION replicated
    * bit for bit (1024-doc md5-ordered sample of fingerprint-capable
    * docs, the same relational RollingWinnow machinery over the sample,
    * pair-mass extrapolation (m2/2)·n/s², cutoff 32), then the chosen
    * chain — x41's uncapped pairs under est ≤ 32, x129's df ≤ 100
    * capped pairs past it.
    */
  private def winnowAutoSql(k: Int, w: Int, minShared: Long): String = {
    val M = BigInt(1000000007L)
    val lits = (0 until k).map(t => BigInt(257).modPow(BigInt(k - 1 - t), M))
    val litrows = lits.zipWithIndex
      .map { case (l, t) => s"($t, $l)" }.mkString(", ")
    s"""WITH lt AS (SELECT * FROM (VALUES $litrows) AS t(t, lw)),
       nn AS (SELECT count(*) AS n FROM documents
              WHERE length(text) >= ${k + w - 1}),
       samp AS (SELECT doc_id, text FROM documents
                WHERE length(text) >= ${k + w - 1}
                ORDER BY md5('wac:' || CAST(doc_id AS VARCHAR)), doc_id
                LIMIT 1024),
       spos AS (SELECT doc_id, text, length(text) AS len,
                  unnest(generate_series(1, length(text))) AS i
                FROM samp),
       schars AS (SELECT doc_id, i, ord(substr(text, i, 1))::BIGINT AS o,
                    len
                  FROM spos),
       sh AS (SELECT doc_id, i - t AS s, sum(o * lw) % $M AS hv
              FROM schars CROSS JOIN lt
              WHERE i - t >= 1 AND i - t <= len - ${k - 1}
              GROUP BY doc_id, i - t),
       ofs AS (SELECT unnest(generate_series(0, ${w - 1})) AS x),
       swmin AS (SELECT doc_id, s - x AS j, min(hv) AS fp
                 FROM sh CROSS JOIN ofs
                 WHERE s - x >= 1
                 GROUP BY doc_id, s - x),
       snw AS (SELECT doc_id, max(s) AS smax FROM sh GROUP BY doc_id),
       sf AS (SELECT DISTINCT w2.doc_id, w2.fp
              FROM swmin w2 JOIN snw ON w2.doc_id = snw.doc_id
              WHERE w2.j <= snw.smax - ${w - 1}),
       mass AS (SELECT coalesce(sum(df * (df - 1)), 0) AS m2 FROM
                  (SELECT fp, count(*) AS df FROM sf GROUP BY fp) g),
       est AS (SELECT (m2 / 2.0) * (SELECT n FROM nn)
                      / (CAST((SELECT count(*) FROM samp) AS DOUBLE)
                         * (SELECT count(*) FROM samp)) AS e
               FROM mass),
       pos AS (SELECT doc_id, text, length(text) AS len,
                 unnest(generate_series(1, length(text))) AS i
               FROM documents WHERE length(text) >= ${k + w - 1}),
       chars AS (SELECT doc_id, i, ord(substr(text, i, 1))::BIGINT AS o,
                   len
                 FROM pos),
       h AS (SELECT doc_id, i - t AS s, sum(o * lw) % $M AS hv
             FROM chars CROSS JOIN lt
             WHERE i - t >= 1 AND i - t <= len - ${k - 1}
             GROUP BY doc_id, i - t),
       wmin AS (SELECT doc_id, s - x AS j, min(hv) AS fp
                FROM h CROSS JOIN ofs
                WHERE s - x >= 1
                GROUP BY doc_id, s - x),
       nw AS (SELECT doc_id, max(s) AS smax FROM h GROUP BY doc_id),
       f AS (SELECT DISTINCT w2.doc_id, w2.fp
             FROM wmin w2 JOIN nw ON w2.doc_id = nw.doc_id
             WHERE w2.j <= nw.smax - ${w - 1}),
       rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 100),
       fc AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp)),
       pu AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
              FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= $minShared),
       pc AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
              FROM fc a JOIN fc b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= $minShared)
       SELECT da, db, n_shared FROM (
         SELECT * FROM pu WHERE (SELECT e FROM est) <= 32
         UNION ALL
         SELECT * FROM pc WHERE (SELECT e FROM est) > 32) u
       ORDER BY da, db"""
  }

  /** x140's (and x142's) oracle: the CDC containment chain — the same
    * 60-bit md5 token hash decides the mod-8 anchor boundaries, per-doc
    * running-sum segment ids, md5 chunk fingerprints, hot-chunk cap,
    * shared/min score — all engine-portable arithmetic. x142 shares it
    * verbatim because the incremental at-rest cycle equals the
    * from-scratch full-corpus chain exactly.
    */
  private val cdcContainmentSql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                  FROM documents WHERE regexp_matches(text, '\S')),
       pos AS (SELECT doc_id, ws,
                      unnest(generate_series(1, len(ws))) AS pos
               FROM t),
       tok AS (SELECT doc_id, pos, ws[pos] AS w,
                      CASE WHEN CAST('0x' || substr(md5(ws[pos]), 1, 15)
                                AS BIGINT) % 8 = 0
                           THEN 1 ELSE 0 END AS b
               FROM pos),
       seg AS (SELECT doc_id, pos, w,
                      sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
               FROM tok),
       ch AS (SELECT doc_id, seg,
                     md5(string_agg(w, ' ' ORDER BY pos)) AS fp
              FROM seg GROUP BY doc_id, seg),
       allf AS (SELECT DISTINCT doc_id, fp FROM ch),
       hot AS (SELECT fp FROM allf GROUP BY fp HAVING count(*) > 100),
       fps AS (SELECT doc_id, fp FROM allf
               WHERE fp NOT IN (SELECT fp FROM hot)),
       cnt AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id),
       pr AS (SELECT a.doc_id AS da, b.doc_id AS db,
                     ca.n AS na, cb.n AS nb, count(*) AS shared
              FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
              JOIN cnt ca ON ca.doc_id = a.doc_id
              JOIN cnt cb ON cb.doc_id = b.doc_id
              GROUP BY 1, 2, 3, 4)
       SELECT da, db,
              round(shared::DOUBLE / least(na, nb), 6) AS cont
       FROM pr WHERE round(shared::DOUBLE / least(na, nb), 6) >= 0.5
       ORDER BY da, db"""

  /** x141's oracle: the containment auto-switch replicated end to end —
    * FULL-corpus shingle dfs (the rarest-first prefix makes
    * sample-local dfs blind to saturation — see
    * estimateContainmentCandidatesPerDoc), the 1024-doc md5-ordered
    * sample's rarest-first containment-prefix rows, per-sampled-doc
    * mean Σ(df − 1) candidate mass, cutoff 32 — then BOTH chains
    * (x123's exact inter/min join, x140's CDC chunk detector) with the
    * decision selecting between them via the identical comparison the
    * Spark side applies.
    */
  private def containmentAutoSql: String =
    shingleCte + """,
       cdf AS (SELECT s, count(*) AS f
               FROM (SELECT doc_id, unnest(sg) AS s FROM sh)
               GROUP BY s),
       cs AS (SELECT doc_id, sg FROM sh
              ORDER BY md5('cac:' || CAST(doc_id AS VARCHAR)), doc_id
              LIMIT 1024),
       cinv AS (SELECT doc_id, len(sg) AS sz, unnest(sg) AS s FROM cs),
       cpre AS (SELECT cinv.doc_id, cinv.sz, cdf.f,
                       row_number() OVER (PARTITION BY cinv.doc_id
                                          ORDER BY cdf.f, cinv.s) AS pos
                FROM cinv JOIN cdf USING (s)),
       cmass AS (SELECT coalesce(sum(f - 1), 0) AS m FROM cpre
                 WHERE pos <= sz - ceil(sz * 0.9) + 1),
       cest AS (SELECT CAST(m AS DOUBLE)
                       / (SELECT count(*) FROM cs) AS e
                FROM cmass),
       exq AS (SELECT * FROM (
                 SELECT a.doc_id AS da, b.doc_id AS db,
                        round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                              least(len(a.sg), len(b.sg)), 6) AS cont
                 FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t0
               WHERE cont >= 0.9),
       dt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
              FROM documents WHERE regexp_matches(text, '\S')),
       dpos AS (SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws))) AS pos
                FROM dt),
       dtok AS (SELECT doc_id, pos, ws[pos] AS w,
                       CASE WHEN CAST('0x' || substr(md5(ws[pos]), 1, 15)
                                 AS BIGINT) % 8 = 0
                            THEN 1 ELSE 0 END AS b
                FROM dpos),
       dseg AS (SELECT doc_id, pos, w,
                       sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
                FROM dtok),
       dch AS (SELECT doc_id, seg,
                      md5(string_agg(w, ' ' ORDER BY pos)) AS fp
               FROM dseg GROUP BY doc_id, seg),
       dallf AS (SELECT DISTINCT doc_id, fp FROM dch),
       dhot AS (SELECT fp FROM dallf GROUP BY fp HAVING count(*) > 100),
       dfps AS (SELECT doc_id, fp FROM dallf
                WHERE fp NOT IN (SELECT fp FROM dhot)),
       dcnt AS (SELECT doc_id, count(*) AS n FROM dfps GROUP BY doc_id),
       dpr AS (SELECT a.doc_id AS da, b.doc_id AS db,
                      ca.n AS na, cb.n AS nb, count(*) AS shared
               FROM dfps a JOIN dfps b
                 ON a.fp = b.fp AND a.doc_id < b.doc_id
               JOIN dcnt ca ON ca.doc_id = a.doc_id
               JOIN dcnt cb ON cb.doc_id = b.doc_id
               GROUP BY 1, 2, 3, 4),
       cdq AS (SELECT da, db,
                      round(shared::DOUBLE / least(na, nb), 6) AS cont
               FROM dpr
               WHERE round(shared::DOUBLE / least(na, nb), 6) >= 0.5)
       SELECT da, db, cont FROM (
         SELECT * FROM exq WHERE (SELECT e FROM cest) <= 32
         UNION ALL
         SELECT * FROM cdq WHERE (SELECT e FROM cest) > 32) u
       ORDER BY da, db"""

  /** DuckDB replication of [[graft.ext.Dedup.substringOverlapPairs]] —
    * the RollingWinnow polynomial k-gram hashes computed RELATIONALLY
    * (positions unnested to rows, the k-term sum as a join against a
    * literal (t, B^(k-1-t) mod M) table, window minima as a grouped min
    * over w shifted copies): DuckDB executes this vectorized form ~60×
    * faster than the equivalent list comprehensions (x34's direct form
    * at k=16 cost ~18 s at sf0.01; this runs in ~0.3 s). Every
    * intermediate stays < 2^47, plain BIGINT arithmetic.
    */
  private def winnowPairsSql(k: Int, w: Int, minShared: Long,
      maxDf: Option[Long] = None): String = {
    val M = BigInt(1000000007L)
    val lits = (0 until k).map(t => BigInt(257).modPow(BigInt(k - 1 - t), M))
    val litrows = lits.zipWithIndex
      .map { case (l, t) => s"($t, $l)" }.mkString(", ")
    // x129's df cap: drop fingerprints whose document frequency exceeds
    // the cap BEFORE the pair join — the identical left-semi the Spark
    // path applies (Dedup.substringOverlapPairs maxDf)
    val capCtes = maxDf.map(c =>
      s""",
       rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= $c),
       fc AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp))""")
      .getOrElse("")
    val pairSrc = if (maxDf.isDefined) "fc" else "f"
    s"""WITH pos AS (
         SELECT doc_id, text, length(text) AS len,
                unnest(generate_series(1, length(text))) AS i
         FROM documents WHERE length(text) >= ${k + w - 1}),
       chars AS (SELECT doc_id, i, ord(substr(text, i, 1))::BIGINT AS o, len
                 FROM pos),
       lt AS (SELECT * FROM (VALUES $litrows) AS t(t, lw)),
       h AS (SELECT doc_id, i - t AS s, sum(o * lw) % $M AS hv
             FROM chars CROSS JOIN lt
             WHERE i - t >= 1 AND i - t <= len - ${k - 1}
             GROUP BY doc_id, i - t),
       ofs AS (SELECT unnest(generate_series(0, ${w - 1})) AS x),
       wmin AS (SELECT doc_id, s - x AS j, min(hv) AS fp
                FROM h CROSS JOIN ofs
                WHERE s - x >= 1
                GROUP BY doc_id, s - x),
       nw AS (SELECT doc_id, max(s) AS smax FROM h GROUP BY doc_id),
       f AS (SELECT DISTINCT w2.doc_id, w2.fp
             FROM wmin w2 JOIN nw ON w2.doc_id = nw.doc_id
             WHERE w2.j <= nw.smax - ${w - 1})$capCtes
       SELECT da, db, n_shared FROM (
         SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
         FROM $pairSrc a JOIN $pairSrc b
           ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2) t
       WHERE n_shared >= $minShared ORDER BY da, db"""
  }

  /** The x43 composite in DuckDB: the x40 scrub chain feeding the x32
    * export lineage (every `FROM documents` retargeted to the scrubbed
    * CTE), then the x39 semantic-dedup CTEs over the SURVIVING
    * embeddings — the same composition [[graft.ext.PipelineMain]]
    * executes, so the end-to-end pipeline is hash-checked, not just its
    * stages.
    */
  private def pipelineOracleSql: String = {
    val scrubbed =
      """scrubbed AS (SELECT doc_id, source,
           trim(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g'),
               '\b[0-9]+\b', '<NUM>', 'g'),
               '\b(the|and|of|to|a|in|is|it|for|on)\b', '', 'g'),
             '\s+', ' ', 'g')) AS text
         FROM documents)"""
    val export = trainingExportSql.replace("FROM documents", "FROM scrubbed")
    s"""WITH $scrubbed,
       exp AS ($export),
       e AS (SELECT em.vec_id, em.embedding::DOUBLE[] AS e
             FROM embeddings em JOIN exp ON em.vec_id = exp.doc_id),
       ${kmeansCteSeed(adaptiveCellsSql, iters = 3, dim = 64)},
       cc AS (SELECT x.vec_id AS vid, c.cent_id,
                     round(list_dot_product(x.e, c.ce) /
                           (sqrt(list_dot_product(x.e, x.e)) *
                            sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
              FROM e x CROSS JOIN cent c),
       ranked AS (SELECT vid, cent_id,
                         row_number() OVER (PARTITION BY vid
                                            ORDER BY ccos DESC, cent_id) AS rn
                  FROM cc),
       cells AS (SELECT vid, cent_id AS cell FROM ranked WHERE rn = 1),
       dups AS (SELECT DISTINCT b.vid AS vec_id
                FROM cells a
                JOIN cells b ON a.cell = b.cell AND a.vid < b.vid
                JOIN e ea ON ea.vec_id = a.vid
                JOIN e eb ON eb.vec_id = b.vid
                WHERE round(list_dot_product(ea.e, eb.e) /
                            (sqrt(list_dot_product(ea.e, ea.e)) *
                             sqrt(list_dot_product(eb.e, eb.e))), 6) >= 0.4)
       SELECT exp.doc_id, exp.source, exp.split, exp.n_tokens, exp.label,
              sd.text
       FROM exp
       JOIN scrubbed sd ON sd.doc_id = exp.doc_id
       LEFT JOIN dups d ON d.vec_id = exp.doc_id
       WHERE d.vec_id IS NULL
       ORDER BY exp.doc_id"""
  }

  /** The trained-IVF probe in DuckDB, shared verbatim by x15 (in-query
    * assignment) and x44 (persisted index): the two engine paths differ
    * only in WHERE the cell assignment lives (per-query plan vs `cell=`
    * partition directories), never in what they return.
    */
  private val ivfProbeOracleSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCte(nCent = 8, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                       round(list_dot_product(x.e, c.ce) /
                             (sqrt(list_dot_product(x.e, x.e)) *
                              sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         ranked AS (SELECT vid, cent_id,
                           row_number() OVER (PARTITION BY vid
                                              ORDER BY ccos DESC, cent_id) AS rn
                    FROM cc),
         cells AS (SELECT vid AS cid, cent_id AS cell FROM ranked WHERE rn = 1),
         probes AS (SELECT vid AS qid, cent_id AS cell FROM ranked
                    WHERE rn <= 2 AND vid < 10),
         scored AS (SELECT DISTINCT p.qid, ca.cid,
                           round(list_dot_product(eq.e, ec.e) /
                                 (sqrt(list_dot_product(eq.e, eq.e)) *
                                  sqrt(list_dot_product(ec.e, ec.e))), 6) AS cos
                    FROM probes p
                    JOIN cells ca ON p.cell = ca.cell AND ca.cid != p.qid
                    JOIN e eq ON eq.vec_id = p.qid
                    JOIN e ec ON ec.vec_id = ca.cid)
         SELECT qid, rank, cid, cos FROM (
           SELECT qid, cid, cos,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, cid) AS INTEGER) AS rank
           FROM scored) t
         WHERE rank <= 10 ORDER BY qid, rank"""

  /** [[ivfProbeOracleSql]] with the centroids trained on the BASE half
    * only (vec_id < 250) — the frozen model x139's incremental
    * extension assigns into; everything downstream (assignment of the
    * union, nprobe=2 probe, top-10 scoring) is identical.
    */
  private val ivfProbeExtendedOracleSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         eb AS (SELECT * FROM e WHERE vec_id < 250),
         ${kmeansCtePrefixed("8", iters = 3, dim = 64, src = "eb")},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                       round(list_dot_product(x.e, c.ce) /
                             (sqrt(list_dot_product(x.e, x.e)) *
                              sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         ranked AS (SELECT vid, cent_id,
                           row_number() OVER (PARTITION BY vid
                                              ORDER BY ccos DESC, cent_id) AS rn
                    FROM cc),
         cells AS (SELECT vid AS cid, cent_id AS cell FROM ranked WHERE rn = 1),
         probes AS (SELECT vid AS qid, cent_id AS cell FROM ranked
                    WHERE rn <= 2 AND vid < 10),
         scored AS (SELECT DISTINCT p.qid, ca.cid,
                           round(list_dot_product(eq.e, ec.e) /
                                 (sqrt(list_dot_product(eq.e, eq.e)) *
                                  sqrt(list_dot_product(ec.e, ec.e))), 6) AS cos
                    FROM probes p
                    JOIN cells ca ON p.cell = ca.cell AND ca.cid != p.qid
                    JOIN e eq ON eq.vec_id = p.qid
                    JOIN e ec ON ec.vec_id = ca.cid)
         SELECT qid, rank, cid, cos FROM (
           SELECT qid, cid, cos,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, cid) AS INTEGER) AS rank
           FROM scored) t
         WHERE rank <= 10 ORDER BY qid, rank"""

  /** The x32 export lineage in DuckDB, shared by x32 (ordered per-doc)
    * and x33 (shard aggregation). No trailing ORDER BY so it can nest.
    */
  private val trainingExportSql =
    """WITH t AS (SELECT doc_id, source, text,
            regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
     base AS (SELECT doc_id,
         round(list_sum(list_transform(ws, w -> length(w)))::DOUBLE
               / len(ws), 6) AS mean_word_len,
         round(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
               / len(ws), 6) AS symbol_ratio
       FROM t),
     bg AS (SELECT doc_id,
              unnest([ws[i] || ' ' || ws[i+1]
                      for i in generate_series(1, len(ws)-1)]) AS bg
            FROM t WHERE len(ws) >= 2),
     cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
     rep AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6)
                    AS max_bigram_ratio FROM cnt GROUP BY 1),
     flags AS (SELECT b.doc_id,
            (b.mean_word_len >= 3 AND b.mean_word_len <= 10
             AND b.symbol_ratio <= 0.1
             AND coalesce(r.max_bigram_ratio, 0.0) <= 0.2) AS keep
            FROM base b LEFT JOIN rep r USING (doc_id)),
     fps AS (SELECT doc_id,
              md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
            FROM documents),
     dd AS (SELECT doc_id,
                 (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS is_rep
               FROM fps)
    SELECT d.doc_id, d.source,
           CASE WHEN CAST('0x' || substr(md5('split:' || d.doc_id), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST('0x' || substr(md5('split:' || d.doc_id), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS n_tokens,
           e.label
    FROM documents d
    JOIN flags f ON d.doc_id = f.doc_id
    JOIN dd ON d.doc_id = dd.doc_id
    LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    WHERE f.keep AND dd.is_rep"""

  private val oracleSqlBase: Map[String, String] = Map(
    "x01_token_count" ->
      """SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_subwords
         FROM documents ORDER BY doc_id""",
    "x02_quality_score" ->
      """WITH c AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|for|on)\b')) AS INTEGER) AS n_stop,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct,
           length(text) AS n_chars FROM documents)
         SELECT doc_id, n_tokens, n_stop,
           round(0.5 * least(n_tokens / 100.0, 1.0)
               + 0.3 * least((CAST(n_stop AS DOUBLE) / n_tokens) * 5, 1.0)
               + 0.2 * (1.0 - least((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10, 1.0)), 6) AS quality
         FROM c ORDER BY doc_id""",
    "x03_lang_id" ->
      """WITH s AS (SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|is|in)\b')) AS INTEGER) AS s_en,
           CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS INTEGER) AS s_de,
           CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS INTEGER) AS s_fr,
           CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|y|es)\b')) AS INTEGER) AS s_es
           FROM documents)
         SELECT doc_id, CASE
           WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
           WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
           WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
           WHEN s_es > 0 THEN 'es'
           ELSE 'und' END AS pred
         FROM s ORDER BY doc_id""",
    "x04_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",
    "x05_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY fp""",
    "x06_ngram_jaccard_pairs" -> jaccardPairsSql,
    "x17_dedup_clusters" -> dedupClustersSql,
    // x116 reads the AT-REST pair graph + labels that ensureDedupIndex
    // wrote — same exact-pair + min-label-CC contract as x17, so the
    // recursive-CTE oracle is shared verbatim
    "x116_dedup_index_resident" -> dedupClustersSql,
    // x121's incremental extension must equal the batch rebuild — the
    // FULL-corpus clustering oracle asserts exactly that
    "x121_dedup_index_extend" -> dedupClustersSql,
    // x137: the LSH-keyed index's labeling — the exact full-corpus
    // clustering, mirroring x07's oracle discipline (auto-banding lands
    // on r=2 at this SF; its measured recall there is exact, so any
    // banding/hash-budget regression hash-mismatches here)
    "x137_dedup_index_extend_lsh" -> dedupClustersSql,
    "x24_ann_topk_pq" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cb AS (SELECT vec_id AS code_id, j, list_slice(e, j*8+1, j*8+8) AS cb_sub
                FROM e, js WHERE vec_id < 256),
         cs AS (SELECT vec_id AS cid, j, list_slice(e, j*8+1, j*8+8) AS sv FROM e, js),
         cd AS (SELECT cid, cs.j AS j, code_id,
                  round(list_dot_product(sv, sv) - 2*list_dot_product(sv, cb_sub)
                        + list_dot_product(cb_sub, cb_sub), 6) AS d
                FROM cs JOIN cb ON cs.j = cb.j),
         codes AS (SELECT cid, j, code_id AS code FROM (
                     SELECT cid, j, code_id,
                            row_number() OVER (PARTITION BY cid, j
                                               ORDER BY d, code_id) AS rn
                     FROM cd) t WHERE rn = 1),
         qs AS (SELECT vec_id AS qid, j, list_slice(e, j*8+1, j*8+8) AS qv
                FROM e, js WHERE vec_id < 10),
         lut AS (SELECT qid, qs.j AS j, code_id,
                   round(list_dot_product(qv, qv) - 2*list_dot_product(qv, cb_sub)
                         + list_dot_product(cb_sub, cb_sub), 6) AS d
                 FROM qs JOIN cb ON qs.j = cb.j),
         ad AS (SELECT qid, cid,
                  CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS adist
                FROM codes JOIN lut ON codes.j = lut.j AND codes.code = lut.code_id
                WHERE qid != cid GROUP BY 1, 2)
         SELECT qid, rank, cid, adist FROM (
           SELECT qid, cid, adist,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY adist, cid) AS INTEGER) AS rank
           FROM ad) t
         WHERE rank <= 10 ORDER BY qid, rank""",
    "x20_dim_stats" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         x AS (SELECT g.d - 1 AS d, e[g.d] AS v
               FROM e, generate_series(1, 64) AS g(d)),
         a AS (SELECT d, count(*) AS n,
                 sum(CAST(v AS DECIMAL(38,18))) AS s,
                 sum(CAST(v*v AS DECIMAL(38,18))) AS sq
               FROM x GROUP BY d)
         SELECT d, n,
                round(CAST(s AS DOUBLE) / n, 6) AS mean,
                round((CAST(sq AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                      / (n - 1), 6) AS variance
         FROM a ORDER BY d""",
    "x26_sequence_packing" ->
      """WITH t AS (SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
               FROM t)
         SELECT doc_id, source, n_tokens,
                CAST(floor((cum - n_tokens) / 8192.0) AS BIGINT) AS bin
         FROM c ORDER BY doc_id""",
    "x25_int8_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         s AS (SELECT vec_id, e,
                      list_max(list_transform(e, x -> abs(x))) AS scale
               FROM e)
         SELECT vec_id, round(scale, 6) AS scale,
                array_to_string(list_transform(e,
                  x -> CAST(round(x / (CASE WHEN scale = 0 THEN 1 ELSE scale END)
                                  * 127, 0) AS INT)), ',') AS qvec
         FROM s ORDER BY vec_id""",
    "x21_source_stats" ->
      """SELECT source, count(*) AS n_docs,
                CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
                round(quantile_cont(length(text), 0.5), 6) AS p50_chars,
                round(quantile_cont(length(text), 0.95), 6) AS p95_chars
         FROM documents GROUP BY source ORDER BY source""",
    "x22_weighted_mix" ->
      """SELECT doc_id, source,
                CAST((CAST(substr(source, 4) AS INT) % 4 + 1) * 25 AS INT) AS keep_pct,
                (CAST('0x' || substr(md5('mix:' || doc_id), 1, 8) AS BIGINT) % 100
                 < (CAST(substr(source, 4) AS INT) % 4 + 1) * 25) AS kept
         FROM documents ORDER BY doc_id""",
    "x27_repetition_collapse" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         c AS (SELECT doc_id, len(ws) AS n_tokens,
                 [ws[i] for i in generate_series(1, len(ws))
                  if i = 1 or ws[i] != ws[i-1]] AS kept
               FROM t)
         SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
                CAST(len(kept) AS INTEGER) AS n_kept,
                array_to_string(kept, ' ') AS collapsed
         FROM c ORDER BY doc_id""",
    "x28_label_centroid_sim" ->
      """WITH x AS (SELECT label, g.d - 1 AS d, embedding[g.d]::DOUBLE AS v
                    FROM embeddings, generate_series(1, 64) AS g(d)),
         a AS (SELECT label, d, sum(CAST(v AS DECIMAL(38,18))) AS sv,
                      count(*) AS n
               FROM x GROUP BY 1, 2),
         c AS (SELECT label,
                      list(round(CAST(sv AS DOUBLE) / n, 6) ORDER BY d) AS c
               FROM a GROUP BY label)
         SELECT a.label AS la, b.label AS lb,
                round(list_dot_product(a.c, b.c) /
                      (sqrt(list_dot_product(a.c, a.c)) *
                       sqrt(list_dot_product(b.c, b.c))), 6) AS cos
         FROM c a JOIN c b ON a.label < b.label ORDER BY la, lb""",
    "x32_training_export" -> (trainingExportSql +
      "\n         ORDER BY d.doc_id"),
    "x33_shard_manifest" ->
      ("WITH exp AS (" + trainingExportSql + """)
         SELECT split, source, count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM exp GROUP BY split, source ORDER BY split, source"""),
    // the literal list is B^(k-1-t) mod M for B=257, M=1e9+7, k=8 —
    // the direct per-position form of RollingWinnow's rolling recurrence
    "x34_winnowing" ->
      """WITH g AS (SELECT doc_id,
           [ list_sum([ord(substr(text, i+t, 1))::BIGINT *
               ([13163680, 805498697, 154885210, 362470373,
                 16974593, 66049, 257, 1])[t+1]
              for t in generate_series(0, 7)]) % 1000000007
            for i in generate_series(1, length(text) - 7)] AS hs
         FROM documents WHERE length(text) >= 8),
         w AS (SELECT doc_id,
           list_sort(list_distinct([list_min(hs[j:j+3])
            for j in generate_series(1, len(hs) - 3)])) AS fps
         FROM g WHERE len(hs) >= 4)
         SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fp,
                array_to_string(list_transform(fps,
                  x -> CAST(x AS VARCHAR)), ',') AS fp_set
         FROM w ORDER BY doc_id""",
    "x30_quality_percentile" ->
      """WITH c AS (SELECT doc_id, source,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|for|on)\b')) AS INTEGER) AS n_stop,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct,
           length(text) AS n_chars FROM documents),
         q AS (SELECT doc_id, source,
           round(0.5 * least(n_tokens / 100.0, 1.0)
               + 0.3 * least((CAST(n_stop AS DOUBLE) / n_tokens) * 5, 1.0)
               + 0.2 * (1.0 - least((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10, 1.0)), 6) AS q
           FROM c)
         SELECT doc_id, source, q,
                round(percent_rank() OVER (PARTITION BY source
                                           ORDER BY q, doc_id), 6) AS pr
         FROM q ORDER BY doc_id""",
    "x31_incremental_dedup" ->
      """WITH f AS (SELECT doc_id,
                    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
                    FROM documents),
         base AS (SELECT DISTINCT fp FROM f WHERE doc_id < 100)
         SELECT n.doc_id, n.fp, (base.fp IS NOT NULL) AS dup_of_base
         FROM f n LEFT JOIN base ON n.fp = base.fp
         WHERE n.doc_id >= 100 ORDER BY n.doc_id""",
    "x29_bloom_contamination" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         sh AS (SELECT doc_id,
                  unnest(list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
                          for i in generate_series(1, len(ws)-4)])) AS s
                FROM t WHERE len(ws) >= 5)
         SELECT e.doc_id AS eval_id, tr.doc_id AS train_id, count(*) AS n_shared
         FROM sh e JOIN sh tr ON e.s = tr.s
         WHERE e.doc_id < 10 AND tr.doc_id >= 10
         GROUP BY 1, 2 ORDER BY eval_id, train_id""",
    "x23_contamination" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         sh AS (SELECT doc_id,
                  unnest(list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
                          for i in generate_series(1, len(ws)-4)])) AS s
                FROM t WHERE len(ws) >= 5)
         SELECT e.doc_id AS eval_id, tr.doc_id AS train_id, count(*) AS n_shared
         FROM sh e JOIN sh tr ON e.s = tr.s
         WHERE e.doc_id < 10 AND tr.doc_id >= 10
         GROUP BY 1, 2 ORDER BY eval_id, train_id""",
    "x19_quality_flags" ->
      """WITH t AS (SELECT doc_id, text,
                regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         base AS (SELECT doc_id,
             round(list_sum(list_transform(ws, w -> length(w)))::DOUBLE
                   / len(ws), 6) AS mean_word_len,
             round(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                   / len(ws), 6) AS symbol_ratio
           FROM t),
         bg AS (SELECT doc_id,
                  unnest([ws[i] || ' ' || ws[i+1]
                          for i in generate_series(1, len(ws)-1)]) AS bg
                FROM t WHERE len(ws) >= 2),
         cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
         rep AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6)
                        AS max_bigram_ratio FROM cnt GROUP BY 1)
         SELECT b.doc_id, b.mean_word_len, b.symbol_ratio,
                coalesce(r.max_bigram_ratio, 0.0) AS max_bigram_ratio,
                (b.mean_word_len >= 3 AND b.mean_word_len <= 10
                 AND b.symbol_ratio <= 0.1
                 AND coalesce(r.max_bigram_ratio, 0.0) <= 0.2) AS keep
         FROM base b LEFT JOIN rep r USING (doc_id) ORDER BY doc_id""",
    "x18_hash_split" ->
      """SELECT doc_id,
                CAST('0x' || substr(md5('split:' || doc_id), 1, 8) AS BIGINT) % 100 AS bucket,
                CASE WHEN CAST('0x' || substr(md5('split:' || doc_id), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
                     WHEN CAST('0x' || substr(md5('split:' || doc_id), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
    // LSH candidates are exact-verified, so the oracle is the same
    // brute-force set (miss probability ~1e-8 at j=0.5, ~0 at the planted
    // pairs' j>=0.9).
    "x07_minhash_lsh_pairs" -> jaccardPairsSql,
    // exact pairs at the x118 threshold — the banded r=4 plan's miss
    // probability at j >= 0.7 is ~2e-8, so exact SQL is the oracle
    "x118_minhash_lsh_r4" -> jaccardPairsSqlAt("0.7"),
    "x08_simhash" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS w
           FROM documents),
         h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM toks),
         bits AS (
           SELECT doc_id, bb.b AS b,
                  CASE WHEN sum(((hv >> bb.b) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END AS bit
           FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bb
           GROUP BY doc_id, bb.b)
         SELECT doc_id, CAST(sum(CAST(bit AS BIGINT) << b) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id ORDER BY doc_id""",
    "x09_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
         SELECT * FROM (
           SELECT a.vec_id AS va, b.vec_id AS vb, $cosSql AS cos
           FROM e a JOIN e b ON a.vec_id < b.vec_id) t
         WHERE cos >= 0.4 ORDER BY va, vb""",
    "x11_ann_topk_lsh" ->
      s"""WITH ${bucketsCte(tables = 1, nbits = 4, dim = 64)},
         scored AS (
           SELECT bq.vec_id AS qid, bc.vec_id AS cid,
                  round(list_dot_product(eq.e, ec.e) /
                        (sqrt(list_dot_product(eq.e, eq.e)) *
                         sqrt(list_dot_product(ec.e, ec.e))), 6) AS cos
           FROM buckets bq
           JOIN buckets bc ON bq.t = bc.t AND bq.b = bc.b
                           AND bq.vec_id != bc.vec_id
           JOIN e eq ON eq.vec_id = bq.vec_id
           JOIN e ec ON ec.vec_id = bc.vec_id
           WHERE bq.vec_id < 10)
         SELECT qid, rank, cid, cos FROM (
           SELECT qid, cid, cos,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, cid) AS INTEGER) AS rank
           FROM scored) t
         WHERE rank <= 10 ORDER BY qid, rank""",
    "x15_ann_topk_ivf" -> ivfProbeOracleSql,
    "x43_pipeline" -> pipelineOracleSql,
    "x44_ann_topk_ivf_indexed" -> ivfProbeOracleSql,
    // mirrors x139: the probe over the incrementally-extended index ==
    // base-trained centroids + union assignment + the same scoring
    "x139_ivf_index_extend" -> ivfProbeExtendedOracleSql,
    "x47_ann_topk_ivf_resident" -> ivfProbeOracleSql,
    // x48 is output-identical to x06 by construction (lossless prefix
    // filter), so it shares the same oracle verbatim
    "x48_jaccard_prefix" -> jaccardPairsSql,
    // canonical pick via rn=1 over (doc_id, start) ≡ the Spark side's
    // min(struct(doc_id, start)); span merge is the same running-max
    // window arithmetic in both engines
    "x49_repeated_spans" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         w AS (SELECT doc_id, start,
                      md5(array_to_string(ws[start : start + 15], ' ')) AS fp
               FROM t, unnest(generate_series(1, len(ws) - 15, 1)) AS u(start)
               WHERE len(ws) >= 16),
         f AS (SELECT doc_id, start, start + 15 AS e,
                      row_number() OVER (PARTITION BY fp
                                         ORDER BY doc_id, start) AS rn
               FROM w),
         fl AS (SELECT doc_id, start, e FROM f WHERE rn >= 2),
         m AS (SELECT doc_id, start, e,
                      CASE WHEN start > coalesce(max(e) OVER (
                             PARTITION BY doc_id ORDER BY start
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                             -1) + 1
                           THEN 1 ELSE 0 END AS brk
               FROM fl),
         g AS (SELECT doc_id, start, e,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                                     ROWS UNBOUNDED PRECEDING) AS span_id
               FROM m)
         SELECT doc_id, min(start) AS span_start, max(e) AS span_end,
                count(*) AS n_windows
         FROM g GROUP BY doc_id, span_id ORDER BY doc_id, span_start""",
    // x49's span chain, then the rewrite: removed positions unnested
    // from the spans, token subtraction as NOT EXISTS on (doc_id, pos),
    // ordered string_agg reassembly, left join so fully-scrubbed and
    // span-free docs both surface
    "x50_span_dedup_corpus" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         w AS (SELECT doc_id, start,
                      md5(array_to_string(ws[start : start + 15], ' ')) AS fp
               FROM t, unnest(generate_series(1, len(ws) - 15, 1)) AS u(start)
               WHERE len(ws) >= 16),
         f AS (SELECT doc_id, start, start + 15 AS e,
                      row_number() OVER (PARTITION BY fp
                                         ORDER BY doc_id, start) AS rn
               FROM w),
         fl AS (SELECT doc_id, start, e FROM f WHERE rn >= 2),
         m AS (SELECT doc_id, start, e,
                      CASE WHEN start > coalesce(max(e) OVER (
                             PARTITION BY doc_id ORDER BY start
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                             -1) + 1
                           THEN 1 ELSE 0 END AS brk
               FROM fl),
         g AS (SELECT doc_id, start, e,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                                     ROWS UNBOUNDED PRECEDING) AS span_id
               FROM m),
         sp AS (SELECT doc_id, min(start) AS s, max(e) AS en
                FROM g GROUP BY doc_id, span_id),
         rem AS (SELECT doc_id, unnest(generate_series(s, en, 1)) AS pos
                 FROM sp),
         tk AS (SELECT doc_id, pos, ws[pos] AS tok
                FROM t, unnest(generate_series(1, len(ws))) AS u(pos)),
         kp AS (SELECT doc_id, pos, tok FROM tk
                WHERE NOT EXISTS (SELECT 1 FROM rem
                                  WHERE rem.doc_id = tk.doc_id
                                    AND rem.pos = tk.pos)),
         ag AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS kept_text,
                       count(*) AS kept_n
                FROM kp GROUP BY doc_id)
         SELECT t.doc_id, coalesce(ag.kept_text, '') AS clean_text,
                coalesce(ag.kept_n, 0) AS n_kept,
                len(t.ws) - coalesce(ag.kept_n, 0) AS n_removed
         FROM t LEFT JOIN ag ON t.doc_id = ag.doc_id
         ORDER BY t.doc_id""",
    // start positions are arithmetic (1, 1+step, ...), so chunk_idx =
    // (start-1)/step needs no window function; list slices clamp at the
    // tail in both engines
    "x45_chunking" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents WHERE regexp_matches(text, '\S')),
         s AS (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 8, 1), 24))
                        AS start
               FROM t)
         SELECT doc_id, CAST((start - 1) / 24 AS INTEGER) AS chunk_idx,
                array_to_string(ws[start : start + 31], ' ') AS chunk_text,
                CAST(least(32, len(ws) - start + 1) AS BIGINT) AS n_tokens
         FROM s ORDER BY doc_id, chunk_idx""",
    // Spark's min(struct(doc_id, chunk_idx)) is the lexicographic pair
    // min; with both components non-negative and chunk_idx < 2^32 it
    // equals min(doc_id * 2^32 + chunk_idx), decomposed after the agg
    "x46_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents WHERE regexp_matches(text, '\S')),
         s AS (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws), 1), 32))
                        AS start
               FROM t),
         c AS (SELECT doc_id,
                      CAST((start - 1) // 32 AS INTEGER) AS chunk_idx,
                      unhex(md5(array_to_string(ws[start : start + 31], ' ')))
                        AS fp
               FROM s),
         g AS (SELECT fp,
                      min(doc_id * 4294967296 + chunk_idx) AS k,
                      count(*) AS n_copies
               FROM c GROUP BY fp)
         SELECT CAST(k // 4294967296 AS BIGINT) AS keep_doc,
                CAST(k % 4294967296 AS INTEGER) AS keep_chunk,
                n_copies
         FROM g WHERE n_copies > 1 ORDER BY keep_doc, keep_chunk""",
    "x35_ann_recall" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCte(nCent = 8, iters = 3, dim = 64)},
         bscored AS (
           SELECT a.vec_id AS qid, b.vec_id AS cid,
                  round(list_dot_product(a.e, b.e) /
                        (sqrt(list_dot_product(a.e, a.e)) *
                         sqrt(list_dot_product(b.e, b.e))), 6) AS cos
           FROM e a JOIN e b ON a.vec_id < 10 AND a.vec_id != b.vec_id),
         brute AS (SELECT qid, cid FROM (
             SELECT qid, cid, row_number() OVER (PARTITION BY qid
                                                 ORDER BY cos DESC, cid) AS rank
             FROM bscored) t WHERE rank <= 10),
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                       round(list_dot_product(x.e, c.ce) /
                             (sqrt(list_dot_product(x.e, x.e)) *
                              sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         ranked AS (SELECT vid, cent_id,
                           row_number() OVER (PARTITION BY vid
                                              ORDER BY ccos DESC, cent_id) AS rn
                    FROM cc),
         cells AS (SELECT vid AS cid, cent_id AS cell FROM ranked WHERE rn = 1),
         probes AS (SELECT vid AS qid, cent_id AS cell FROM ranked
                    WHERE rn <= 2 AND vid < 10),
         iscored AS (SELECT DISTINCT p.qid, ca.cid,
                            round(list_dot_product(eq.e, ec.e) /
                                  (sqrt(list_dot_product(eq.e, eq.e)) *
                                   sqrt(list_dot_product(ec.e, ec.e))), 6) AS cos
                     FROM probes p
                     JOIN cells ca ON p.cell = ca.cell AND ca.cid != p.qid
                     JOIN e eq ON eq.vec_id = p.qid
                     JOIN e ec ON ec.vec_id = ca.cid),
         ivf AS (SELECT qid, cid FROM (
             SELECT qid, cid, row_number() OVER (PARTITION BY qid
                                                 ORDER BY cos DESC, cid) AS rank
             FROM iscored) t WHERE rank <= 10)
         SELECT b.qid AS qid, count(i.cid) AS n_hit,
                round(count(i.cid) / 10.0, 6) AS recall
         FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.cid = i.cid
         GROUP BY b.qid ORDER BY b.qid"""),
    "x16_embedding_neardup_lsh" ->
      s"""WITH ${bucketsCte(tables = 32, nbits = 6, dim = 64)},
         cand AS (SELECT a.vec_id AS va, b.vec_id AS vb
                  FROM buckets a
                  JOIN buckets b ON a.t = b.t AND a.b = b.b
                                 AND a.vec_id < b.vec_id
                  GROUP BY 1, 2)
         SELECT * FROM (
           SELECT c.va, c.vb,
                  round(list_dot_product(ea.e, eb.e) /
                        (sqrt(list_dot_product(ea.e, ea.e)) *
                         sqrt(list_dot_product(eb.e, eb.e))), 6) AS cos
           FROM cand c
           JOIN e ea ON c.va = ea.vec_id
           JOIN e eb ON c.vb = eb.vec_id) t
         WHERE cos >= 0.4 ORDER BY va, vb""",
    "x10_ann_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         scored AS (
           SELECT a.vec_id AS qid, b.vec_id AS cid, $cosSql AS cos
           FROM e a JOIN e b ON a.vec_id < 10 AND a.vec_id != b.vec_id)
         SELECT qid, rank, cid, cos FROM (
           SELECT qid, cid, cos,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rank
           FROM scored) t
         WHERE rank <= 10 ORDER BY qid, rank""",
    "x12_multimodal_meta" ->
      """WITH h AS (SELECT doc_id, strlen(text) AS n_bytes,
                           CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS hv
                    FROM documents)
         SELECT doc_id, CAST(n_bytes AS INTEGER) AS n_bytes,
                CAST(32 * (1 + hv % 8) AS INTEGER) AS width,
                CAST(32 * (1 + (hv // 8) % 8) AS INTEGER) AS height,
                CAST(1 + hv % 16 AS INTEGER) AS n_frames
         FROM h ORDER BY doc_id""",
    "x13_doc_frequency" ->
      """WITH w AS (SELECT doc_id,
             unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS word
           FROM documents)
         SELECT word, count(*) AS df,
                round(ln((SELECT count(*) FROM documents)::DOUBLE / count(*)), 6) AS idf
         FROM w GROUP BY word ORDER BY word""",
    "x36_ngram_topk" ->
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         bg AS (SELECT unnest([ws[i] || ' ' || ws[i+1]
                               for i in generate_series(1, len(ws)-1)]) AS bg
                FROM t WHERE len(ws) >= 2)
         SELECT bg, count(*) AS n FROM bg
         GROUP BY bg ORDER BY n DESC, bg LIMIT 20""",
    // the engine's shuffle key is the shingle's 16-byte md5 fingerprint
    // (Dedup.sourceOverlap), so the oracle dedups and joins on the same
    // unhex(md5(...)) key — the fingerprint is the documented contract
    "x37_source_overlap" ->
      """WITH t AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         ssg AS (SELECT DISTINCT source,
                   unhex(md5(unnest(list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2]
                           for i in generate_series(1, len(ws)-2)])))) AS h
                 FROM t WHERE len(ws) >= 3)
         SELECT a.source AS sa, b.source AS sb, count(*) AS n_shared
         FROM ssg a JOIN ssg b ON a.h = b.h AND a.source < b.source
         GROUP BY 1, 2 ORDER BY sa, sb""",
    "x38_stratified_sample" ->
      """SELECT doc_id, source, rn FROM (
           SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY md5('sample:' || doc_id), doc_id) AS INTEGER) AS rn
           FROM documents) t
         WHERE rn <= 5 ORDER BY doc_id""",
    "x39_semantic_dedup" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCteSeed(adaptiveCellsSql, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                       round(list_dot_product(x.e, c.ce) /
                             (sqrt(list_dot_product(x.e, x.e)) *
                              sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         ranked AS (SELECT vid, cent_id,
                           row_number() OVER (PARTITION BY vid
                                              ORDER BY ccos DESC, cent_id) AS rn
                    FROM cc),
         cells AS (SELECT vid, cent_id AS cell FROM ranked WHERE rn = 1),
         dups AS (SELECT DISTINCT b.vid AS vec_id
                  FROM cells a
                  JOIN cells b ON a.cell = b.cell AND a.vid < b.vid
                  JOIN e ea ON ea.vec_id = a.vid
                  JOIN e eb ON eb.vec_id = b.vid
                  WHERE round(list_dot_product(ea.e, eb.e) /
                              (sqrt(list_dot_product(ea.e, ea.e)) *
                               sqrt(list_dot_product(eb.e, eb.e))), 6) >= 0.4)
         SELECT c.vid AS vec_id, c.cell, (d.vec_id IS NULL) AS is_rep
         FROM cells c LEFT JOIN dups d ON c.vid = d.vec_id
         ORDER BY vec_id"""),
    "x40_text_scrub" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INTEGER) AS n_url,
           CAST(len(regexp_extract_all(text, '\b[0-9]+\b')) AS INTEGER) AS n_num,
           CAST(len(regexp_extract_all(text,
             '\b(the|and|of|to|a|in|is|it|for|on)\b')) AS INTEGER) AS n_stop,
           trim(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g'),
               '\b[0-9]+\b', '<NUM>', 'g'),
               '\b(the|and|of|to|a|in|is|it|for|on)\b', '', 'g'),
             '\s+', ' ', 'g')) AS scrubbed
         FROM documents ORDER BY doc_id""",
    "x41_substring_overlap" -> winnowPairsSql(k = 16, w = 8, minShared = 10),
    "x42_mix_plan" ->
      """WITH s AS (SELECT source,
             CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens
           FROM documents GROUP BY source),
         t AS (SELECT sum(n_tokens)::DOUBLE AS total,
                      count(*)::DOUBLE AS n_sources FROM s)
         SELECT source, n_tokens,
                round(n_tokens / total, 6) AS token_share,
                round(least(1.0, (total / n_sources) / n_tokens), 6)
                  AS keep_frac
         FROM s CROSS JOIN t ORDER BY source""",
    "x14_tfidf_top_term" ->
      """WITH toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS word
           FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfq AS (SELECT word, count(*) AS df
                 FROM (SELECT DISTINCT doc_id, word FROM toks) GROUP BY word),
         scored AS (
           SELECT tf.doc_id, tf.word,
                  round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df), 6) AS score
           FROM tf JOIN dfq ON tf.word = dfq.word)
         SELECT doc_id, word, score FROM (
           SELECT doc_id, word, score,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, word) AS rn
           FROM scored) t
         WHERE rn = 1 ORDER BY doc_id""",
    "x51_bm25_topk" ->
      s"""WITH $bm25Cte
         SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20""",
    "x52_hybrid_rrf" ->
      s"""WITH $bm25Cte,
         lex AS (SELECT doc_id,
                        row_number() OVER (ORDER BY score DESC, doc_id) AS rank
                 FROM sc ORDER BY score DESC, doc_id LIMIT 50),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         vscored AS (
           SELECT b.vec_id AS cid, $cosSql AS cos
           FROM e a JOIN e b ON a.vec_id = 0 AND b.vec_id != 0),
         vec AS (SELECT cid AS doc_id,
                        row_number() OVER (ORDER BY cos DESC, cid) AS rank
                 FROM vscored ORDER BY cos DESC, cid LIMIT 50),
         contrib AS (
           SELECT doc_id, round((1.0::DOUBLE) / (60 + rank), 6) AS c FROM lex
           UNION ALL
           SELECT doc_id, round((1.0::DOUBLE) / (60 + rank), 6) AS c FROM vec),
         fused AS (SELECT doc_id,
                          round(sum(CAST(c AS DECIMAL(38,12)))::DOUBLE, 6) AS rrf,
                          count(*) AS n_lists
                   FROM contrib GROUP BY doc_id)
         SELECT doc_id, rrf, n_lists FROM fused
         ORDER BY rrf DESC, doc_id LIMIT 20""",
    // mirrors Selection.bigramLmScore exactly: NLL per DISTINCT bigram
    // (rounded to 6 dp), exact decimal per-doc mean; every fractional
    // literal cast to DOUBLE so DuckDB divides at IEEE precision
    "x53_bigram_lm_score" ->
      """WITH t AS (SELECT doc_id,
                regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         bgd AS (SELECT doc_id,
                   unnest([ws[i] || ' ' || ws[i+1]
                           for i in generate_series(1, len(ws)-1)]) AS bg
                 FROM t WHERE len(ws) >= 2),
         counts AS (SELECT bg, count(*) AS c12 FROM bgd GROUP BY bg),
         lm AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
                FROM counts GROUP BY 1),
         vocab AS (SELECT count(DISTINCT w) AS v
                   FROM (SELECT unnest(ws) AS w FROM t)),
         model AS (SELECT bg,
                     round(-ln((c12 + (0.5::DOUBLE)) /
                               (c1 + (0.5::DOUBLE) * v)), 6) AS nll
                   FROM counts
                   JOIN lm ON split_part(counts.bg, ' ', 1) = lm.w1
                   CROSS JOIN vocab)
         SELECT doc_id, count(*) AS n_bigrams,
                round(sum(CAST(nll AS DECIMAL(38,12)))::DOUBLE
                      / count(*), 6) AS lm_score
         FROM bgd JOIN model USING (bg)
         GROUP BY doc_id ORDER BY doc_id""",
    // mirrors Selection.dsirWeights: 60-bit md5 feature hash (the
    // x04/x06 hash60 contract) mod 4096, add-0.5-smoothed target/raw
    // log-ratio per bucket rounded to 6 dp, exact decimal per-doc sum
    "x54_dsir_weights" ->
      """WITH t AS (SELECT doc_id, source = 'src0' AS is_target,
                regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         feats AS (SELECT doc_id, is_target,
                     CAST('0x' || substr(md5(bg), 1, 15) AS BIGINT) % 4096 AS f
                   FROM (SELECT doc_id, is_target,
                           unnest([ws[i] || ' ' || ws[i+1]
                                   for i in generate_series(1, len(ws)-1)]) AS bg
                         FROM t WHERE len(ws) >= 2)),
         bc AS (SELECT f, count(*) AS n_raw,
                       sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS n_tgt
                FROM feats GROUP BY f),
         tot AS (SELECT sum(n_raw) AS big_n_raw, sum(n_tgt) AS big_n_tgt FROM bc),
         lr AS (SELECT f,
                  round(ln((n_tgt + (0.5::DOUBLE)) /
                           (big_n_tgt + (0.5::DOUBLE) * 4096)) -
                        ln((n_raw + (0.5::DOUBLE)) /
                           (big_n_raw + (0.5::DOUBLE) * 4096)), 6) AS lr
                FROM bc CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_feats,
                round(sum(CAST(lr AS DECIMAL(38,12)))::DOUBLE, 6) AS dsir_weight
         FROM feats JOIN lr USING (f)
         GROUP BY doc_id ORDER BY doc_id""",
    // x39's trained-cell assignment + x38's md5 hash-rank, quota 20
    "x55_cluster_balanced_sample" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCte(nCent = 8, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                       round(list_dot_product(x.e, c.ce) /
                             (sqrt(list_dot_product(x.e, x.e)) *
                              sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         ranked AS (SELECT vid, cent_id,
                           row_number() OVER (PARTITION BY vid
                                              ORDER BY ccos DESC, cent_id) AS rn
                    FROM cc),
         cells AS (SELECT vid, cent_id AS cell FROM ranked WHERE rn = 1),
         samp AS (SELECT vid AS vec_id, cell,
                         CAST(row_number() OVER (PARTITION BY cell
                           ORDER BY md5('cbal:' || vid), vid) AS INTEGER) AS rn
                  FROM cells)
         SELECT vec_id, cell, rn FROM samp WHERE rn <= 20 ORDER BY vec_id"""),
    // x17's recursive components + per-component size, reps only
    "x56_fuzzy_dedup_corpus" ->
      (shingleCte.replaceFirst("WITH", "WITH RECURSIVE") + """,
         pairs AS (
           SELECT da, db FROM (
             SELECT a.doc_id AS da, b.doc_id AS db,
                    round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                          (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))), 6) AS j
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
           WHERE j >= 0.5),
         edges AS (SELECT da AS src, db AS dst FROM pairs
                   UNION ALL SELECT db, da FROM pairs),
         reach(node, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.node),
         comp AS (SELECT node AS doc_id, min(lbl) AS cluster
                  FROM reach GROUP BY node),
         sizes AS (SELECT cluster, CAST(count(*) AS INTEGER) AS n_members
                   FROM comp GROUP BY cluster)
         SELECT c.doc_id, s.n_members, d.source, d.text
         FROM comp c JOIN sizes s ON s.cluster = c.cluster
                     JOIN documents d ON d.doc_id = c.doc_id
         WHERE c.doc_id = c.cluster ORDER BY c.doc_id"""),
    // the t=0 row of the splitmix weight matrix, one dot per output dim
    "x57_random_projection" ->
      (s"""WITH ${planeWeightsCte(tables = 1, nbits = 16, dim = 64)},
         e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
         SELECT vec_id, """ +
        (0 until 16).map(j =>
          s"round(list_dot_product(e, (SELECT wv FROM pl WHERE t = 0 " +
            s"AND bit = $j)), 6) AS p${f"$j%02d"}").mkString(", ") +
        " FROM e ORDER BY vec_id"),
    // Selection.linearProbe's GD unrolled: per iteration, the margin
    // against the current weight list, 6-dp-rounded gradient addends
    // summed as DECIMAL, and a re-rounded weight update — the same
    // quantization points as the Spark side, so the fit is bit-portable
    "x58_linear_probe" -> linearProbeSql(dim = 64, iters = 3, lr = "0.1"),
    // brute-force batch×base Jaccard, best match by (j DESC, base id)
    "x59_incremental_fuzzy" ->
      (shingleCte + """,
         pairs AS (
           SELECT da, db, j FROM (
             SELECT b.doc_id AS da, a.doc_id AS db,
                    round(len(list_intersect(b.sg, a.sg))::DOUBLE /
                          (len(b.sg) + len(a.sg) - len(list_intersect(b.sg, a.sg))), 6) AS j
             FROM sh b JOIN sh a ON b.doc_id >= 100 AND a.doc_id < 100) t
           WHERE j >= 0.5),
         best AS (SELECT da, db, j FROM (
                    SELECT da, db, j,
                           row_number() OVER (PARTITION BY da
                                              ORDER BY j DESC, db) AS rn
                    FROM pairs) r WHERE rn = 1)
         SELECT d.doc_id, (b.da IS NOT NULL) AS dup_of_base,
                b.db AS best_base_id, b.j AS best_j
         FROM documents d LEFT JOIN best b ON b.da = d.doc_id
         WHERE d.doc_id >= 100 ORDER BY d.doc_id"""),
    // the x19 + x31 + x59 + x23 gates composed over the batch split
    "x60_batch_admission" ->
      """WITH t AS (SELECT doc_id, text,
                regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         qb AS (SELECT doc_id,
             round(list_sum(list_transform(ws, w -> length(w)))::DOUBLE
                   / len(ws), 6) AS mwl,
             round(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                   / len(ws), 6) AS sr
           FROM t WHERE doc_id >= 100),
         bgx AS (SELECT doc_id,
                   unnest([ws[i] || ' ' || ws[i+1]
                           for i in generate_series(1, len(ws)-1)]) AS bg
                 FROM t WHERE doc_id >= 100 AND len(ws) >= 2),
         cntx AS (SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY 1, 2),
         repx AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS mbr
                  FROM cntx GROUP BY 1),
         q AS (SELECT qb.doc_id,
                 (mwl >= 3 AND mwl <= 10 AND sr <= 0.1
                  AND coalesce(mbr, 0.0) <= 0.2) AS keep_quality
               FROM qb LEFT JOIN repx ON repx.doc_id = qb.doc_id),
         bfp AS (SELECT DISTINCT
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
                 FROM documents WHERE doc_id < 100),
         ex AS (SELECT doc_id,
                  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                    IN (SELECT fp FROM bfp) AS dup_exact
                FROM documents WHERE doc_id >= 100),
         s3 AS (SELECT doc_id, list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2]
                                  for i in generate_series(1, len(ws)-2)]) AS sg
                FROM t WHERE len(ws) >= 3),
         fz AS (SELECT b.doc_id,
                  bool_or(round(len(list_intersect(b.sg, a.sg))::DOUBLE /
                    (len(b.sg) + len(a.sg) - len(list_intersect(b.sg, a.sg))), 6)
                    >= 0.5) AS dup_fuzzy
                FROM s3 b JOIN s3 a ON b.doc_id >= 100 AND a.doc_id < 100
                GROUP BY 1),
         s5 AS (SELECT doc_id,
                  unnest(list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
                          for i in generate_series(1, len(ws)-4)])) AS s
                FROM t WHERE len(ws) >= 5),
         ct AS (SELECT DISTINCT b.doc_id FROM s5 b JOIN s5 e ON b.s = e.s
                WHERE b.doc_id >= 100 AND e.doc_id < 10)
         SELECT q.doc_id, q.keep_quality, ex.dup_exact,
                coalesce(fz.dup_fuzzy, false) AS dup_fuzzy,
                (ct.doc_id IS NOT NULL) AS contaminated,
                (q.keep_quality AND NOT ex.dup_exact
                 AND NOT coalesce(fz.dup_fuzzy, false)
                 AND ct.doc_id IS NULL) AS admit,
                CASE WHEN NOT q.keep_quality THEN 'quality'
                     WHEN ex.dup_exact THEN 'exact_dup'
                     WHEN coalesce(fz.dup_fuzzy, false) THEN 'near_dup'
                     WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                     ELSE 'ok' END AS reason
         FROM q JOIN ex ON ex.doc_id = q.doc_id
              LEFT JOIN fz ON fz.doc_id = q.doc_id
              LEFT JOIN ct ON ct.doc_id = q.doc_id
         ORDER BY q.doc_id""",
    // x19's keep + x01's token count + x05's fingerprint, one aggregate
    "x61_corpus_report" ->
      """WITH t AS (SELECT doc_id, text,
                regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         base AS (SELECT doc_id,
             round(list_sum(list_transform(ws, w -> length(w)))::DOUBLE
                   / len(ws), 6) AS mwl,
             round(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                   / len(ws), 6) AS sr
           FROM t),
         bg AS (SELECT doc_id,
                  unnest([ws[i] || ' ' || ws[i+1]
                          for i in generate_series(1, len(ws)-1)]) AS bg
                FROM t WHERE len(ws) >= 2),
         cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
         rep AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS mbr
                 FROM cnt GROUP BY 1),
         q AS (SELECT base.doc_id,
                 (mwl >= 3 AND mwl <= 10 AND sr <= 0.1
                  AND coalesce(mbr, 0.0) <= 0.2) AS keep
               FROM base LEFT JOIN rep ON rep.doc_id = base.doc_id),
         b AS (SELECT d.doc_id, d.source, d.lang,
                 CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS nt,
                 md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g')) AS fp
               FROM documents d)
         SELECT count(*) AS n_docs,
                count(DISTINCT source) AS n_sources,
                count(DISTINCT lang) AS n_langs,
                CAST(sum(nt) AS BIGINT) AS total_tokens,
                round(1.0 - count(DISTINCT fp)::DOUBLE / count(*), 6) AS dup_rate,
                round(sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE
                      / count(*), 6) AS quality_pass_rate
         FROM b JOIN q ON q.doc_id = b.doc_id""",

    // mirrors TextAnalysis.repetitionMetrics: per-doc bigram/trigram
    // counts, argmax by (count DESC, gram ASC), char-mass fractions over
    // length(text) at DOUBLE precision rounded to 6 dp
    "x62_repetition_metrics" ->
      """WITH t AS (SELECT doc_id, length(text) AS nct,
                regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         bgd AS (SELECT doc_id, nct,
                   unnest([ws[i] || ' ' || ws[i+1]
                           for i in generate_series(1, len(ws)-1)]) AS bg
                 FROM t WHERE len(ws) >= 2),
         bgc AS (SELECT doc_id, nct, bg, count(*) AS c
                 FROM bgd GROUP BY 1, 2, 3),
         top AS (SELECT doc_id, bg AS top_bigram,
                   round(c * length(bg) / (nct::DOUBLE), 6) AS tbf
                 FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                         ORDER BY c DESC, bg) AS rn FROM bgc)
                 WHERE rn = 1),
         tgd AS (SELECT doc_id, nct,
                   unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                           for i in generate_series(1, len(ws)-2)]) AS tg
                 FROM t WHERE len(ws) >= 3),
         tgc AS (SELECT doc_id, nct, tg, count(*) AS c
                 FROM tgd GROUP BY 1, 2, 3),
         dup AS (SELECT doc_id,
                   round(sum(c * length(tg))::DOUBLE / any_value(nct), 6)
                     AS dtf
                 FROM tgc WHERE c > 1 GROUP BY doc_id)
         SELECT t.doc_id,
                coalesce(top_bigram, '') AS top_bigram,
                coalesce(tbf, 0.0) AS top_bigram_frac,
                coalesce(dtf, 0.0) AS dup_trigram_frac,
                (coalesce(tbf, 0.0) <= 0.2 AND coalesce(dtf, 0.0) <= 0.6)
                  AS rep_keep
         FROM t LEFT JOIN top USING (doc_id) LEFT JOIN dup USING (doc_id)
         ORDER BY t.doc_id""",

    // mirrors Export.packSequences(source, doc_id, tokenCount, 512):
    // running token offset per source (rows-preceding window), pack id =
    // floor(offset / budget), then the per-pack manifest
    "x63_pack_manifest" ->
      """WITH t AS (SELECT source AS part, doc_id AS ord,
                len(regexp_split_to_array(trim(text), '\s+')) AS nt
              FROM documents),
         o AS (SELECT part, ord, nt,
                 coalesce(sum(nt) OVER (PARTITION BY part ORDER BY ord
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS off
               FROM t)
         SELECT part, CAST(floor(off / (512.0::DOUBLE)) AS BIGINT) AS pack_id,
                count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS pack_tokens,
                min(ord) AS first_id, max(ord) AS last_id
         FROM o GROUP BY 1, 2 ORDER BY part, pack_id""",

    // mirrors Selection.mixtureWeights(temperature=2.0): per-source token
    // mass, sqrt (exponent 1/T = 0.5 — correctly-rounded in both engines,
    // unlike pow) rounded to 6 dp, decimal-summed normalizer, weight and
    // implied sampling factor at IEEE DOUBLE order
    "x64_mixture_weights" ->
      """WITH t AS (SELECT source,
                len(regexp_split_to_array(trim(text), '\s+')) AS nt
              FROM documents),
         s AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(nt) AS BIGINT) AS n_tokens
               FROM t GROUP BY source),
         p AS (SELECT *, round(sqrt(n_tokens), 6) AS a FROM s),
         n AS (SELECT CAST(sum(CAST(a AS DECIMAL(38,12))) AS DOUBLE)
                   AS a_total,
                 CAST(sum(n_tokens) AS BIGINT) AS tok_total
               FROM p)
         SELECT source, n_docs, n_tokens,
                round(a / a_total, 6) AS weight,
                round(round(a / a_total, 6) * tok_total / n_tokens, 6)
                  AS sample_factor
         FROM p CROSS JOIN n ORDER BY source""",

    // mirrors TextAnalysis.vocabCoverage(k=20): global token counts,
    // top-20 by (count DESC, token), cumulative occurrence fraction over
    // those 20 rows at DOUBLE precision
    "x65_vocab_coverage" ->
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
              FROM documents),
         w AS (SELECT unnest(ws) AS token FROM t),
         g AS (SELECT token, count(*) AS c FROM w GROUP BY token),
         tot AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS total FROM t),
         top AS (SELECT token, c FROM g ORDER BY c DESC, token LIMIT 20)
         SELECT token, c,
                round(sum(c) OVER (ORDER BY c DESC, token
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
                  / total, 6) AS cum_frac
         FROM top CROSS JOIN tot ORDER BY c DESC, token""",

    // mirrors Similarity.topKIvfPq (first-8 centroids, nprobe=2, m=8,
    // codebook 256): x15's cell/probe CTEs (untrained centroids) feeding
    // x24's code/LUT/ADC CTEs restricted to the candidate pairs
    "x66_ann_topk_ivfpq" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < 8),
         ccos AS (SELECT x.vec_id AS vid, c.cent_id,
                    round(list_dot_product(x.e, c.ce) /
                          (sqrt(list_dot_product(x.e, x.e)) *
                           sqrt(list_dot_product(c.ce, c.ce))), 6) AS cc
                  FROM e x CROSS JOIN cent c),
         ranked AS (SELECT vid, cent_id,
                      row_number() OVER (PARTITION BY vid
                                         ORDER BY cc DESC, cent_id) AS rn
                    FROM ccos),
         cells AS (SELECT vid AS cid, cent_id AS cell FROM ranked
                   WHERE rn = 1),
         probes AS (SELECT vid AS qid, cent_id AS cell FROM ranked
                    WHERE rn <= 2 AND vid < 10),
         cand AS (SELECT p.qid, ca.cid FROM probes p
                  JOIN cells ca ON p.cell = ca.cell AND ca.cid != p.qid),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cb AS (SELECT vec_id AS code_id, j,
                  list_slice(e, j*8+1, j*8+8) AS cb_sub
                FROM e, js WHERE vec_id < 256),
         cs AS (SELECT vec_id AS cid, j, list_slice(e, j*8+1, j*8+8) AS sv
                FROM e, js),
         cd AS (SELECT cid, cs.j AS j, code_id,
                  round(list_dot_product(sv, sv)
                        - 2*list_dot_product(sv, cb_sub)
                        + list_dot_product(cb_sub, cb_sub), 6) AS d
                FROM cs JOIN cb ON cs.j = cb.j),
         codes AS (SELECT cid, j, code_id AS code FROM (
                     SELECT cid, j, code_id,
                            row_number() OVER (PARTITION BY cid, j
                                               ORDER BY d, code_id) AS rn
                     FROM cd) t WHERE rn = 1),
         qs AS (SELECT vec_id AS qid, j, list_slice(e, j*8+1, j*8+8) AS qv
                FROM e, js WHERE vec_id < 10),
         lut AS (SELECT qid, qs.j AS j, code_id,
                   round(list_dot_product(qv, qv)
                         - 2*list_dot_product(qv, cb_sub)
                         + list_dot_product(cb_sub, cb_sub), 6) AS d
                 FROM qs JOIN cb ON qs.j = cb.j),
         ad AS (SELECT cand.qid, cand.cid,
                  CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS adist
                FROM cand
                JOIN codes ON codes.cid = cand.cid
                JOIN lut ON lut.qid = cand.qid AND lut.j = codes.j
                        AND lut.code_id = codes.code
                GROUP BY 1, 2)
         SELECT qid, rank, cid, adist FROM (
           SELECT qid, cid, adist,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY adist, cid) AS INTEGER)
                    AS rank
           FROM ad) t
         WHERE rank <= 10 ORDER BY qid, rank""",

    // mirrors Selection.clusterTopicLabels (first-8 centroids, top 3):
    // the x66 cells CTE + per-(cell,token) counts + the c-TF-IDF formula
    // at IEEE DOUBLE order
    "x67_cluster_labels" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < 8),
         ccos AS (SELECT x.vec_id AS vid, c.cent_id,
                    round(list_dot_product(x.e, c.ce) /
                          (sqrt(list_dot_product(x.e, x.e)) *
                           sqrt(list_dot_product(c.ce, c.ce))), 6) AS cc
                  FROM e x CROSS JOIN cent c),
         ranked AS (SELECT vid, cent_id,
                      row_number() OVER (PARTITION BY vid
                                         ORDER BY cc DESC, cent_id) AS rn
                    FROM ccos),
         cells AS (SELECT vid AS doc_id, cent_id AS cell FROM ranked
                   WHERE rn = 1),
         toks AS (SELECT d.doc_id,
                    unnest(regexp_split_to_array(trim(d.text), '\s+'))
                      AS token
                  FROM documents d),
         tc AS (SELECT c.cell, t.token, count(*) AS tf_c
                FROM toks t JOIN cells c ON c.doc_id = t.doc_id
                GROUP BY 1, 2),
         lc AS (SELECT cell, CAST(sum(tf_c) AS BIGINT) AS len_c
                FROM tc GROUP BY cell),
         tg AS (SELECT token, CAST(sum(tf_c) AS BIGINT) AS tf_g
                FROM tc GROUP BY token),
         am AS (SELECT avg(len_c) AS a_mean FROM lc),
         sc AS (SELECT tc.cell, tc.token, tf_c,
                  round(tf_c / (len_c::DOUBLE) *
                        ln((1.0::DOUBLE) + a_mean / tf_g), 6) AS ctfidf
                FROM tc JOIN lc USING (cell) JOIN tg USING (token)
                CROSS JOIN am)
         SELECT cell, rank, token, tf_c, ctfidf FROM (
           SELECT cell, token, tf_c, ctfidf,
                  CAST(row_number() OVER (PARTITION BY cell
                                          ORDER BY ctfidf DESC, token)
                    AS INTEGER) AS rank
           FROM sc) t
         WHERE rank <= 3 ORDER BY cell, rank""",

    // mirrors Selection.sourceDriftMatrix: x54's 60-bit md5 feature hash
    // mod 4096, densified over all buckets with add-0.5 smoothing,
    // 12-dp probabilities, 9-dp symmetric-KL terms decimal-summed
    "x68_source_drift" ->
      """WITH t AS (SELECT source,
                regexp_split_to_array(trim(text), '\s+') AS ws
              FROM documents),
         feats AS (SELECT source,
                     CAST('0x' || substr(md5(bg), 1, 15) AS BIGINT) % 4096
                       AS f
                   FROM (SELECT source,
                           unnest([ws[i] || ' ' || ws[i+1]
                                   for i in generate_series(1, len(ws)-1)])
                             AS bg
                         FROM t WHERE len(ws) >= 2)),
         counts AS (SELECT source, f, count(*) AS n FROM feats
                    GROUP BY 1, 2),
         totals AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot
                    FROM counts GROUP BY source),
         dense AS (SELECT tt.source, g.f,
                     round((coalesce(c.n, 0) + (0.5::DOUBLE)) /
                           (tt.tot + (2048.0::DOUBLE)), 12) AS p
                   FROM totals tt
                   CROSS JOIN (SELECT unnest(generate_series(0, 4095)) AS f)
                     g
                   LEFT JOIN counts c
                     ON c.source = tt.source AND c.f = g.f)
         SELECT a.source AS src_a, b.source AS src_b,
                round(CAST(sum(CAST(
                    round((a.p - b.p) * ln(a.p / b.p), 9)
                    AS DECIMAL(38,12))) AS DOUBLE), 6) AS sym_kl
         FROM dense a JOIN dense b ON a.f = b.f AND a.source < b.source
         GROUP BY 1, 2 ORDER BY src_a, src_b""",

    // mirrors x69: the x17 recursive-CC oracle aggregated to the
    // cluster-size histogram
    "x69_dedup_histogram" ->
      (shingleCte.replaceFirst("WITH", "WITH RECURSIVE") + """,
         pairs AS (
           SELECT da, db FROM (
             SELECT a.doc_id AS da, b.doc_id AS db,
                    round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                          (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))), 6) AS j
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
           WHERE j >= 0.5),
         edges AS (SELECT da AS src, db AS dst FROM pairs
                   UNION ALL SELECT db, da FROM pairs),
         reach(node, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.node)
         , clusters AS (SELECT node AS doc_id, min(lbl) AS cluster
                        FROM reach GROUP BY node),
         sizes AS (SELECT cluster, count(*) AS sz FROM clusters
                   GROUP BY cluster)
         SELECT sz, count(*) AS n_clusters,
                CAST(sz * count(*) AS BIGINT) AS n_docs
         FROM sizes GROUP BY sz ORDER BY sz"""),

    // mirrors Dedup.noveltyRate: the shared shingle sets unnested, corpus
    // first-seen per shingle, per-doc seen-before fraction
    "x70_novelty_rate" ->
      (shingleCte + """,
         u AS (SELECT doc_id, unnest(sg) AS sg FROM sh),
         f AS (SELECT sg, min(doc_id) AS first_doc FROM u GROUP BY sg)
         SELECT u.doc_id,
                count(*) AS n_shingles,
                CAST(sum(CASE WHEN f.first_doc < u.doc_id THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_seen,
                round(CAST(sum(CASE WHEN f.first_doc < u.doc_id
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS dup_rate
         FROM u JOIN f USING (sg)
         GROUP BY u.doc_id ORDER BY doc_id"""),

    // mirrors x71: brute top-10 on full 64 dims (ground truth) vs brute
    // top-10 on the first 16 dims, recall per query
    "x71_matryoshka_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         t AS (SELECT vec_id, list_slice(e, 1, 16) AS e FROM e),
         fs AS (SELECT qid, cid FROM (
                  SELECT a.vec_id AS qid, b.vec_id AS cid,
                         row_number() OVER (PARTITION BY a.vec_id
                             ORDER BY $cosSql DESC, b.vec_id) AS rn
                  FROM e a JOIN e b
                    ON a.vec_id < 10 AND a.vec_id != b.vec_id) z
                WHERE rn <= 10),
         ts AS (SELECT qid, cid, 1 AS hit FROM (
                  SELECT a.vec_id AS qid, b.vec_id AS cid,
                         row_number() OVER (PARTITION BY a.vec_id
                             ORDER BY $cosSql DESC, b.vec_id) AS rn
                  FROM t a JOIN t b
                    ON a.vec_id < 10 AND a.vec_id != b.vec_id) z
                WHERE rn <= 10)
         SELECT fs.qid, count(ts.hit) AS n_hit,
                round(count(ts.hit) / (10.0::DOUBLE), 6) AS recall
         FROM fs LEFT JOIN ts ON fs.qid = ts.qid AND fs.cid = ts.cid
         GROUP BY fs.qid ORDER BY fs.qid""",

    // mirrors x72: x04's canonical key vs the aggressive
    // strip-punctuation key, distinct-group counts per source
    "x72_norm_dedup_delta" ->
      """WITH k AS (SELECT source,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k_exact,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
             AS k_norm
         FROM documents)
         SELECT source, count(*) AS n_docs,
                count(DISTINCT k_exact) AS n_exact_keys,
                count(DISTINCT k_norm) AS n_norm_keys,
                count(DISTINCT k_exact) - count(DISTINCT k_norm) AS n_merged
         FROM k GROUP BY source ORDER BY source""",

    // mirrors x73: adjacent subword-token pairs (x01's subword regex),
    // top 20 by (count desc, pair)
    "x73_bpe_pair_counts" ->
      """WITH ts AS (SELECT
           regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS ts
         FROM documents),
         p AS (SELECT ts[i] || ' ' || ts[i+1] AS pair
               FROM (SELECT ts, unnest(generate_series(1, len(ts)-1)) AS i
                     FROM ts WHERE len(ts) >= 2))
         SELECT pair, count(*) AS n, replace(pair, ' ', '') AS merged
         FROM p GROUP BY pair
         ORDER BY n DESC, pair LIMIT 20""",

    // mirrors x74: x30's quality + percentile contract, 4-phase bucket,
    // per-(source, phase) rollup
    "x74_curriculum_schedule" ->
      """WITH c AS (SELECT doc_id, source,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|for|on)\b')) AS INTEGER) AS n_stop,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct,
           length(text) AS n_chars FROM documents),
         q AS (SELECT doc_id, source, n_tokens,
           round(0.5 * least(n_tokens / 100.0, 1.0)
               + 0.3 * least((CAST(n_stop AS DOUBLE) / n_tokens) * 5, 1.0)
               + 0.2 * (1.0 - least((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10, 1.0)), 6) AS q
           FROM c),
         pr AS (SELECT doc_id, source, n_tokens,
                  round(percent_rank() OVER (PARTITION BY source
                                             ORDER BY q, doc_id), 6) AS pr
                FROM q)
         SELECT source,
                CAST(least(floor(pr * 4), 3) AS INTEGER) AS phase,
                count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS phase_tokens
         FROM pr GROUP BY 1, 2 ORDER BY source, phase""",

    // mirrors Similarity.pcaTopComponent: quantized mean, two unrolled
    // power-iteration passes at the identical IEEE/decimal arithmetic
    "x75_pca_top_component" -> pcaSql(dim = 64, iters = 2),

    // mirrors TextAnalysis.sourceTokenEntropy: 12-dp probabilities,
    // 9-dp terms, decimal-summed, 6-dp outputs (the x68 contract)
    "x76_source_entropy" ->
      """WITH t AS (SELECT source,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS token
         FROM documents),
         c AS (SELECT source, token, count(*) AS n FROM t GROUP BY 1, 2),
         tt AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
                  count(*) AS n_distinct
                FROM c GROUP BY source),
         terms AS (SELECT c.source,
                     round(round(c.n / (tt.n_tokens::DOUBLE), 12) *
                           ln(round(c.n / (tt.n_tokens::DOUBLE), 12)), 9)
                       AS term
                   FROM c JOIN tt USING (source)),
         h AS (SELECT source,
                 round(-CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE),
                       6) AS entropy
               FROM terms GROUP BY source)
         SELECT tt.source, tt.n_tokens, tt.n_distinct, h.entropy,
                CASE WHEN tt.n_distinct > 1
                     THEN round(h.entropy / ln(tt.n_distinct::DOUBLE), 6)
                     ELSE 0.0 END AS evenness
         FROM tt JOIN h USING (source) ORDER BY tt.source""",

    // mirrors x77: Hamming distance = count of dims whose signs differ
    // (≡ bit_count(xor) over the packed sign bitmaps), candidate cut at
    // (hamming, cid) rank ≤ 50, exact cosine rerank top-10
    "x77_ann_topk_binary" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         h AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                 CAST(len(list_filter(generate_series(1, 64),
                     d -> (q.e[d] > 0) != (c.e[d] > 0))) AS INTEGER)
                   AS hamming
               FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id != c.vec_id),
         cand AS (SELECT qid, cid, hamming FROM (
             SELECT qid, cid, hamming,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY hamming, cid) AS rn
             FROM h) t WHERE rn <= 50),
         sc AS (SELECT cand.qid, cand.cid, cand.hamming, $cosSql AS cos
                FROM cand JOIN e a ON a.vec_id = cand.qid
                          JOIN e b ON b.vec_id = cand.cid)
         SELECT qid, rank, cid, hamming, cos FROM (
           SELECT qid, cid, hamming, cos,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, cid) AS INTEGER)
                    AS rank
           FROM sc) t WHERE rank <= 10 ORDER BY qid, rank""",

    // mirrors x78: kmeansCte's trained centroids, x35's deterministic
    // cell argmax, global bottom-20 by assigned-centroid cosine
    "x78_embedding_outliers" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCte(nCent = 8, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                       round(list_dot_product(x.e, c.ce) /
                             (sqrt(list_dot_product(x.e, x.e)) *
                              sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         ranked AS (SELECT vid, cent_id, ccos,
                           row_number() OVER (PARTITION BY vid
                                              ORDER BY ccos DESC, cent_id) AS rn
                    FROM cc)
         SELECT vid AS vec_id, cent_id AS cell, ccos
         FROM ranked WHERE rn = 1
         ORDER BY ccos, vec_id LIMIT 20"""),

    // mirrors x79: x03's langId CASE, x01's token counts, per-language
    // rollup; sums cast back to BIGINT (DuckDB sums INTEGER as HUGEINT)
    "x79_subword_fertility" ->
      """WITH s AS (SELECT text,
           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|is|in)\b')) AS INTEGER) AS s_en,
           CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS INTEGER) AS s_de,
           CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS INTEGER) AS s_fr,
           CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|y|es)\b')) AS INTEGER) AS s_es
           FROM documents),
         l AS (SELECT CASE
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
             WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
             WHEN s_es > 0 THEN 'es'
             ELSE 'und' END AS lang,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS nw,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS nsw
           FROM s)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(nw) AS BIGINT) AS n_words,
                CAST(sum(nsw) AS BIGINT) AS n_subwords,
                round(CAST(sum(nsw) AS DOUBLE) / CAST(sum(nw) AS BIGINT), 6)
                  AS fertility
         FROM l GROUP BY lang ORDER BY lang""",

    // mirrors x80: one scored relation, positives/negatives split by the
    // label predicate, per-query windows ordered (cos desc, cid)
    "x80_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
                FROM embeddings),
         scored AS (
           SELECT a.vec_id AS qid, a.label AS qlabel,
                  b.vec_id AS cid, b.label AS clabel, $cosSql AS cos
           FROM e a JOIN e b ON a.vec_id < 10 AND a.vec_id != b.vec_id),
         pos AS (SELECT qid, cid AS pos_cid, cos AS pos_cos FROM (
             SELECT qid, cid, cos,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY cos DESC, cid) AS rn
             FROM scored WHERE qlabel = clabel) t WHERE rn = 1),
         negs AS (SELECT qid, neg_rank, cid AS neg_cid, cos AS neg_cos FROM (
             SELECT qid, cid, cos,
                    CAST(row_number() OVER (PARTITION BY qid
                                            ORDER BY cos DESC, cid) AS INTEGER)
                      AS neg_rank
             FROM scored WHERE qlabel != clabel) t WHERE neg_rank <= 5)
         SELECT n.qid, p.pos_cid, p.pos_cos, n.neg_rank, n.neg_cid, n.neg_cos
         FROM negs n JOIN pos p USING (qid)
         ORDER BY n.qid, n.neg_rank""",

    // mirrors x81: tf · round(ln(N/df), 6) weights rounded 6 dp,
    // zero-weight terms pruned, dot/norm sums as round-then-DECIMAL
    "x81_tfidf_cosine_pairs" ->
      """WITH tok AS (SELECT doc_id,
           unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   for i in generate_series(1, len(ws)-2)]) AS term
         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents)
         WHERE len(ws) >= 3),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         w AS (SELECT doc_id, term,
                 round(tf * round(ln((SELECT n_docs FROM n) / df), 6), 6)
                   AS w
               FROM tf JOIN df USING (term)),
         w2 AS (SELECT * FROM w WHERE w > 0),
         nrm AS (SELECT doc_id,
                   round(sqrt(CAST(sum(CAST(round(w * w, 6)
                     AS DECIMAL(38,12))) AS DOUBLE)), 6) AS nrm
                 FROM w2 GROUP BY doc_id),
         dots AS (SELECT a.doc_id AS da, b.doc_id AS db,
                    CAST(sum(CAST(round(a.w * b.w, 6)
                      AS DECIMAL(38,12))) AS DOUBLE) AS dot
                  FROM w2 a JOIN w2 b
                    ON a.term = b.term AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
         SELECT da, db,
                least(1.0::DOUBLE, round(dot / (na.nrm * nb.nrm), 6)) AS cos
         FROM dots JOIN nrm na ON na.doc_id = da
                   JOIN nrm nb ON nb.doc_id = db
         WHERE least(1.0::DOUBLE, round(dot / (na.nrm * nb.nrm), 6)) >= 0.8
         ORDER BY da, db""",

    // mirrors x82: x08's simhash per doc, all-pairs Hamming ≤ 3 (the
    // banding is a lossless candidate filter, so the oracle needn't
    // replicate it — pairs are identical by the pigeonhole bound)
    "x82_simhash_neardup" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS w
           FROM documents),
         h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM toks),
         bits AS (
           SELECT doc_id, bb.b AS b,
                  CASE WHEN sum(((hv >> bb.b) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END AS bit
           FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bb
           GROUP BY doc_id, bb.b),
         sh AS (SELECT doc_id, CAST(sum(CAST(bit AS BIGINT) << b) AS BIGINT) AS sh
                FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS da, b.doc_id AS db,
                CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3
         ORDER BY da, db""",

    // mirrors x117: the x82 simhash replicated under TWO salted md5
    // families (plain + 'w2:'-prefixed), all-pairs TOTAL Hamming over
    // both 60-bit words <= 3 (the block-combination keys are a lossless
    // candidate filter exactly as in x82, so the oracle needn't
    // replicate them)
    "x117_simhash_wide_neardup" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS w
           FROM documents),
         h AS (SELECT doc_id,
                 CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv1,
                 CAST('0x' || substr(md5('w2:' || w), 1, 15) AS BIGINT) AS hv2
               FROM toks),
         bits AS (
           SELECT doc_id, bb.b AS b,
                  CASE WHEN sum(((hv1 >> bb.b) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END AS bit1,
                  CASE WHEN sum(((hv2 >> bb.b) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END AS bit2
           FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bb
           GROUP BY doc_id, bb.b),
         sh AS (SELECT doc_id,
                  CAST(sum(CAST(bit1 AS BIGINT) << b) AS BIGINT) AS sh1,
                  CAST(sum(CAST(bit2 AS BIGINT) << b) AS BIGINT) AS sh2
                FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS da, b.doc_id AS db,
                CAST(bit_count(xor(a.sh1, b.sh1))
                     + bit_count(xor(a.sh2, b.sh2)) AS INTEGER) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh1, b.sh1))
               + bit_count(xor(a.sh2, b.sh2)) <= 3
         ORDER BY da, db""",

    // mirrors x119: generated from the same merges fixture (see
    // bpeOracleSql)
    "x119_bpe_token_count" -> bpeOracleSql,

    // mirrors x140: the same 60-bit md5 token hash decides the mod-8
    // anchor boundaries, per-doc running-sum segment ids, md5 chunk
    // fingerprints, shared/min score — all engine-portable arithmetic
    "x140_cdc_containment" -> cdcContainmentSql,

    // mirrors x142: the incremental at-rest cycle equals the
    // from-scratch full-corpus chain (per-doc chunking makes
    // chunks(base) ∪ chunks(batch) == chunks(union) exactly, and the
    // cap + denominators recompute over the union)
    "x142_cdc_index_extend" -> cdcContainmentSql,

    // mirrors x141: probe + decision + both containment chains,
    // selected with the identical est <= 32 comparison
    "x141_containment_auto" -> containmentAutoSql,

    // mirrors x143: the exact inter/min chain (x123's, da/db) LEFT
    // JOINed against the CDC chain (x140's, da/db) — same
    // n_exact/n_hit/recall shape as x136
    "x143_containment_audit" -> (shingleCte + """,
       exq AS (SELECT * FROM (
                 SELECT a.doc_id AS da, b.doc_id AS db,
                        round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                              least(len(a.sg), len(b.sg)), 6) AS cont
                 FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t0
               WHERE cont >= 0.9),
       dt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
              FROM documents WHERE regexp_matches(text, '\S')),
       dpos AS (SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws))) AS pos
                FROM dt),
       dtok AS (SELECT doc_id, pos, ws[pos] AS w,
                       CASE WHEN CAST('0x' || substr(md5(ws[pos]), 1, 15)
                                 AS BIGINT) % 8 = 0
                            THEN 1 ELSE 0 END AS b
                FROM dpos),
       dseg AS (SELECT doc_id, pos, w,
                       sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
                FROM dtok),
       dch AS (SELECT doc_id, seg,
                      md5(string_agg(w, ' ' ORDER BY pos)) AS fp
               FROM dseg GROUP BY doc_id, seg),
       dallf AS (SELECT DISTINCT doc_id, fp FROM dch),
       dhot AS (SELECT fp FROM dallf GROUP BY fp HAVING count(*) > 100),
       dfps AS (SELECT doc_id, fp FROM dallf
                WHERE fp NOT IN (SELECT fp FROM dhot)),
       dcnt AS (SELECT doc_id, count(*) AS n FROM dfps GROUP BY doc_id),
       dpr AS (SELECT a.doc_id AS da, b.doc_id AS db,
                      ca.n AS na, cb.n AS nb, count(*) AS shared
               FROM dfps a JOIN dfps b
                 ON a.fp = b.fp AND a.doc_id < b.doc_id
               JOIN dcnt ca ON ca.doc_id = a.doc_id
               JOIN dcnt cb ON cb.doc_id = b.doc_id
               GROUP BY 1, 2, 3, 4),
       cdq AS (SELECT da, db FROM dpr
               WHERE round(shared::DOUBLE / least(na, nb), 6) >= 0.5)
       SELECT count(*) AS n_exact,
              CAST(coalesce(sum(CASE WHEN c.da IS NOT NULL
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
              round(sum(CASE WHEN c.da IS NOT NULL THEN 1 ELSE 0 END)
                      ::DOUBLE / count(*), 6) AS recall
       FROM exq e LEFT JOIN cdq c ON e.da = c.da AND e.db = c.db"""),

    // asymmetric containment: inter/min instead of inter/union over
    // the same distinct-shingle sets as x06
    "x123_containment_pairs" -> (shingleCte + """
       SELECT * FROM (
         SELECT a.doc_id AS da, b.doc_id AS db,
                round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                      least(len(a.sg), len(b.sg)), 6) AS cont
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
       WHERE cont >= 0.9 ORDER BY da, db"""),

    // the x06 pair relation swept over the threshold grid; zero-pair
    // thresholds kept by the LEFT joins from the grid
    "x124_threshold_sweep" -> (shingleCte + """,
       p AS (SELECT * FROM (
         SELECT a.doc_id AS da, b.doc_id AS db,
                round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                      (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))), 6) AS j
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t0 WHERE j >= 0.5),
       g AS (SELECT unnest([0.5, 0.55, 0.6, 0.65, 0.7, 0.75,
                            0.8, 0.85, 0.9, 0.95]::DOUBLE[]) AS t),
       f AS (SELECT g.t, p.da, p.db FROM g JOIN p ON p.j >= g.t),
       pa AS (SELECT t, count(*) AS n_pairs FROM f GROUP BY t),
       dd AS (SELECT t, count(DISTINCT d) AS n_docs
              FROM (SELECT t, unnest([da, db]) AS d FROM f) GROUP BY t)
       SELECT g.t, coalesce(pa.n_pairs, 0) AS n_pairs,
              coalesce(dd.n_docs, 0) AS n_docs
       FROM g LEFT JOIN pa USING (t) LEFT JOIN dd USING (t)
       ORDER BY g.t"""),

    // x49's span chain rolled up to the per-source dup-token ledger
    "x125_span_dup_ledger" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         w AS (SELECT doc_id, start,
                      md5(array_to_string(ws[start : start + 15], ' ')) AS fp
               FROM t, unnest(generate_series(1, len(ws) - 15, 1)) AS u(start)
               WHERE len(ws) >= 16),
         f AS (SELECT doc_id, start, start + 15 AS e,
                      row_number() OVER (PARTITION BY fp
                                         ORDER BY doc_id, start) AS rn
               FROM w),
         fl AS (SELECT doc_id, start, e FROM f WHERE rn >= 2),
         m AS (SELECT doc_id, start, e,
                      CASE WHEN start > coalesce(max(e) OVER (
                             PARTITION BY doc_id ORDER BY start
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                             -1) + 1
                           THEN 1 ELSE 0 END AS brk
               FROM fl),
         g AS (SELECT doc_id, start, e,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                                     ROWS UNBOUNDED PRECEDING) AS span_id
               FROM m),
         sp AS (SELECT doc_id, min(start) AS s, max(e) AS en
                FROM g GROUP BY doc_id, span_id),
         dt AS (SELECT doc_id, CAST(sum(en - s + 1) AS BIGINT) AS dup_toks
                FROM sp GROUP BY doc_id),
         base AS (SELECT doc_id, source,
                    CAST(len(regexp_split_to_array(trim(text), '\s+'))
                      AS BIGINT) AS n_toks
                  FROM documents)
         SELECT base.source, count(*) AS n_docs,
                CAST(sum(base.n_toks) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN dt.dup_toks IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS docs_hit,
                CAST(sum(coalesce(dt.dup_toks, 0)) AS BIGINT) AS dup_tokens,
                round(sum(coalesce(dt.dup_toks, 0))::DOUBLE /
                      sum(base.n_toks), 6) AS dup_frac
         FROM base LEFT JOIN dt ON dt.doc_id = base.doc_id
         GROUP BY base.source ORDER BY base.source""",

    "x126_tokenizer_efficiency" -> tokenizerEffSql,

    // x02's quality CTE ranked per source, top-10 kept
    "x127_source_quality_cap" ->
      """WITH c AS (SELECT doc_id, source,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|for|on)\b')) AS INTEGER) AS n_stop,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct,
           length(text) AS n_chars FROM documents),
         q AS (SELECT doc_id, source,
           round(0.5 * least(n_tokens / 100.0, 1.0)
               + 0.3 * least((CAST(n_stop AS DOUBLE) / n_tokens) * 5, 1.0)
               + 0.2 * (1.0 - least((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10, 1.0)), 6) AS quality
           FROM c),
         r AS (SELECT doc_id, source, quality,
                      CAST(row_number() OVER (PARTITION BY source
                        ORDER BY quality DESC, doc_id ASC) AS INTEGER) AS rk
               FROM q)
         SELECT doc_id, source, quality, rk FROM r WHERE rk <= 10
         ORDER BY source, rk""",

    // mirrors x122: hash-ordered 100-row sample, vec_id-order re-id,
    // the prefixed Lloyd chain over the sample, per-dim 6-dp emit
    "x122_sampled_centroids" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ranked AS (SELECT vec_id, e,
                      row_number() OVER (ORDER BY
                        md5('ktrain:' || CAST(vec_id AS VARCHAR)),
                        vec_id) AS rn
                    FROM e),
         samp0 AS (SELECT vec_id, e FROM ranked WHERE rn <= 100),
         samp AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                    AS BIGINT) AS vec_id, e
                  FROM samp0),
         ${kmeansCtePrefixed("8", iters = 3, dim = 64, src = "samp",
        p = "s")}
         SELECT cent_id, g.d AS d, round(scent.ce[g.d], 6) AS v
         FROM scent, generate_series(1, 64) AS g(d)
         ORDER BY cent_id, d"""),

    // mirrors x120: level-1 kmeans (adaptive k) -> level-2 kmeans over
    // the CENTROIDS (ceil(sqrt(k)) coarse groups, same unrolled Lloyd
    // arithmetic via the prefixed CTE chain) -> member-centroid group
    // labels -> per-vector coarse argmax -> exact argmax within the
    // winning group's members; every argmax is the rounded-cosine /
    // low-id row_number idiom both engines share
    "x120_assign_hier" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCteSeed(adaptiveCellsSql, iters = 3, dim = 64)},
         centsrc AS (SELECT cent_id AS vec_id, ce AS e FROM cent),
         ${kmeansCtePrefixed(
        "(SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM centsrc)",
        iters = 3, dim = 64, src = "centsrc", p = "g")},
         grpassign AS (SELECT cent_id, cent_e, cent_n, grp FROM (
             SELECT c.cent_id, c.ce AS cent_e,
                    sqrt(list_dot_product(c.ce, c.ce)) AS cent_n,
                    g.cent_id AS grp,
                    row_number() OVER (PARTITION BY c.cent_id ORDER BY
                      round(list_dot_product(c.ce, g.ce) /
                            (sqrt(list_dot_product(c.ce, c.ce)) *
                             sqrt(list_dot_product(g.ce, g.ce))), 6) DESC,
                      g.cent_id) AS rn
             FROM cent c CROSS JOIN gcent g) t WHERE rn = 1),
         s1 AS (SELECT vec_id, grp FROM (
             SELECT x.vec_id, g.cent_id AS grp,
                    row_number() OVER (PARTITION BY x.vec_id ORDER BY
                      round(list_dot_product(x.e, g.ce) /
                            (sqrt(list_dot_product(x.e, x.e)) *
                             sqrt(list_dot_product(g.ce, g.ce))), 6) DESC,
                      g.cent_id) AS rn
             FROM e x CROSS JOIN gcent g) t WHERE rn = 1),
         s2 AS (SELECT vec_id, cell FROM (
             SELECT x.vec_id, ga.cent_id AS cell,
                    row_number() OVER (PARTITION BY x.vec_id ORDER BY
                      round(list_dot_product(x.e, ga.cent_e) /
                            (sqrt(list_dot_product(x.e, x.e)) * ga.cent_n),
                            6) DESC, ga.cent_id) AS rn
             FROM e x JOIN s1 ON s1.vec_id = x.vec_id
                  JOIN grpassign ga ON ga.grp = s1.grp) t WHERE rn = 1)
         SELECT vec_id, cell FROM s2 ORDER BY vec_id"""),

    // mirrors x83: per-token min(doc_id) first-seen, 50-doc buckets,
    // cumulative window over buckets only
    "x83_vocab_growth" ->
      """WITH tok AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS token
         FROM documents),
         fs AS (SELECT token, min(doc_id) AS first_doc FROM tok
                GROUP BY token),
         nb AS (SELECT first_doc // 50 AS bucket, count(*) AS n_new
                FROM fs GROUP BY 1),
         pb AS (SELECT doc_id // 50 AS bucket, count(*) AS n_docs,
                  CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                    AS BIGINT) AS n_tokens
                FROM documents GROUP BY 1),
         j AS (SELECT pb.bucket, pb.n_docs, pb.n_tokens,
                 CAST(coalesce(nb.n_new, 0) AS BIGINT) AS n_new
               FROM pb LEFT JOIN nb ON nb.bucket = pb.bucket)
         SELECT bucket, n_docs, n_new,
                CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT)
                  AS cum_tokens,
                CAST(sum(n_new) OVER (ORDER BY bucket) AS BIGINT)
                  AS cum_vocab,
                round(CAST(sum(n_new) OVER (ORDER BY bucket) AS DOUBLE) /
                      CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT),
                      6) AS ttr
         FROM j ORDER BY bucket""",

    // mirrors x84: x05's fingerprint representatives + x17's recursive
    // CC over the x06 pair graph, rolled up per source
    "x84_dedup_savings" ->
      (shingleCte.replaceFirst("WITH", "WITH RECURSIVE") + """,
         pairs AS (
           SELECT da, db FROM (
             SELECT a.doc_id AS da, b.doc_id AS db,
                    round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                          (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))), 6) AS j
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
           WHERE j >= 0.5),
         edges AS (SELECT da AS src, db AS dst FROM pairs
                   UNION ALL SELECT db, da FROM pairs),
         reach(node, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.node),
         comp AS (SELECT node AS doc_id, min(lbl) AS cluster
                  FROM reach GROUP BY node),
         fpt AS (SELECT doc_id, source,
                   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_toks,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
                 FROM documents),
         keep AS (SELECT fp, min(doc_id) AS keep_id FROM fpt GROUP BY fp),
         fl AS (SELECT f.doc_id, f.source, f.n_toks,
                  f.doc_id != k.keep_id AS exact_dup
                FROM fpt f JOIN keep k USING (fp))
         SELECT fl.source, count(*) AS n_docs,
                CAST(sum(fl.n_toks) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN fl.exact_dup THEN 1 ELSE 0 END) AS BIGINT)
                  AS exact_dup_docs,
                CAST(sum(CASE WHEN fl.exact_dup THEN fl.n_toks ELSE 0 END)
                  AS BIGINT) AS exact_dup_tokens,
                CAST(sum(CASE WHEN c.doc_id != c.cluster THEN 1 ELSE 0 END)
                  AS BIGINT) AS fuzzy_dup_docs,
                CAST(sum(CASE WHEN c.doc_id != c.cluster THEN fl.n_toks ELSE 0 END)
                  AS BIGINT) AS fuzzy_dup_tokens,
                round(CAST(sum(CASE WHEN c.doc_id != c.cluster THEN fl.n_toks ELSE 0 END)
                        AS DOUBLE) /
                      CAST(sum(fl.n_toks) AS BIGINT), 6) AS fuzzy_savings
         FROM fl JOIN comp c USING (doc_id)
         GROUP BY fl.source ORDER BY fl.source"""),

    // mirrors x85: x17's recursive CC clusters, then x18's md5 split
    // CASE applied to the CLUSTER label instead of the doc id
    "x85_leakage_safe_split" ->
      (shingleCte.replaceFirst("WITH", "WITH RECURSIVE") + """,
         pairs AS (
           SELECT da, db FROM (
             SELECT a.doc_id AS da, b.doc_id AS db,
                    round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                          (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))), 6) AS j
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
           WHERE j >= 0.5),
         edges AS (SELECT da AS src, db AS dst FROM pairs
                   UNION ALL SELECT db, da FROM pairs),
         reach(node, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.node),
         comp AS (SELECT node AS doc_id, min(lbl) AS cluster
                  FROM reach GROUP BY node)
         SELECT doc_id, cluster,
           CASE WHEN CAST('0x' || substr(md5('split:' || cluster), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST('0x' || substr(md5('split:' || cluster), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM comp ORDER BY doc_id"""),

    // mirrors x86: the x06 verified pair set, each side assigned the
    // naive x18 per-doc split, tabulated
    "x86_split_leakage_audit" ->
      (shingleCte + """,
         pairs AS (
           SELECT da, db FROM (
             SELECT a.doc_id AS da, b.doc_id AS db,
                    round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                          (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))), 6) AS j
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
           WHERE j >= 0.5),
         sp AS (SELECT
           CASE WHEN CAST('0x' || substr(md5('split:' || da), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST('0x' || substr(md5('split:' || da), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split_a,
           CASE WHEN CAST('0x' || substr(md5('split:' || db), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST('0x' || substr(md5('split:' || db), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split_b
           FROM pairs)
         SELECT split_a, split_b, count(*) AS n_pairs FROM sp
         GROUP BY split_a, split_b ORDER BY split_a, split_b"""),

    // mirrors x87: trigram/bigram/unigram counts from the non-src0
    // slice, stupid-backoff CASE per DISTINCT corpus trigram, 6-dp NLL
    // addends summed as DECIMAL for the per-doc mean
    "x87_backoff_lm_score" ->
      """WITH d AS (SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         trw AS (SELECT unnest(ws) AS w FROM d WHERE source != 'src0'),
         c1 AS (SELECT w, count(*) AS c FROM trw GROUP BY w),
         nv AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM trw),
         c2 AS (SELECT bg, count(*) AS c FROM (
                  SELECT unnest([ws[i] || ' ' || ws[i+1]
                                 for i in generate_series(1, len(ws)-1)]) AS bg
                  FROM d WHERE source != 'src0') GROUP BY bg),
         c3 AS (SELECT tg, count(*) AS c FROM (
                  SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 for i in generate_series(1, len(ws)-2)]) AS tg
                  FROM d WHERE source != 'src0') GROUP BY tg),
         ct AS (SELECT doc_id,
                  unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                          for i in generate_series(1, len(ws)-2)]) AS tg
                FROM d),
         parts AS (SELECT tg, str_split(tg, ' ') AS p
                   FROM (SELECT DISTINCT tg FROM ct)),
         model AS (SELECT parts.tg, round(-ln(
             CASE WHEN t3.c IS NOT NULL THEN CAST(t3.c AS DOUBLE) / b12.c
                  WHEN b23.c IS NOT NULL THEN 0.4 * CAST(b23.c AS DOUBLE) / u2.c
                  ELSE 0.16 * CAST(coalesce(u3.c, 0) + 1 AS DOUBLE) / (nv.n + nv.v)
             END), 6) AS nll
           FROM parts
           LEFT JOIN c3 t3 ON t3.tg = parts.tg
           LEFT JOIN c2 b12 ON b12.bg = parts.p[1] || ' ' || parts.p[2]
           LEFT JOIN c2 b23 ON b23.bg = parts.p[2] || ' ' || parts.p[3]
           LEFT JOIN c1 u2 ON u2.w = parts.p[2]
           LEFT JOIN c1 u3 ON u3.w = parts.p[3]
           CROSS JOIN nv)
         SELECT doc_id, count(*) AS n_trigrams,
                round(CAST(sum(CAST(nll AS DECIMAL(38,12))) AS DOUBLE)
                      / count(*), 6) AS bo_score
         FROM ct JOIN model USING (tg) GROUP BY doc_id ORDER BY doc_id""",

    // mirrors x88: the same md5 'cms<r>:' bucket derivation (x18/x54
    // hash family), 3×256 counter table, min-over-rows estimate, top-20
    // by (est DESC, term)
    "x88_cms_heavy_hitters" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS k
                    FROM documents),
         rb AS (SELECT k, r,
                  CAST('0x' || substr(md5('cms' || r || ':' || k), 1, 15) AS BIGINT) % 256 AS b
                FROM w, generate_series(0, 2) AS g(r)),
         tab AS (SELECT r, b, count(*) AS cnt FROM rb GROUP BY r, b),
         truth AS (SELECT k, count(*) AS true_cnt FROM w GROUP BY k),
         probes AS (SELECT k, true_cnt, r,
                  CAST('0x' || substr(md5('cms' || r || ':' || k), 1, 15) AS BIGINT) % 256 AS b
                FROM truth, generate_series(0, 2) AS g(r)),
         est AS (SELECT k, true_cnt, min(cnt) AS est
                 FROM probes JOIN tab USING (r, b) GROUP BY k, true_cnt)
         SELECT k AS term, est, true_cnt, est - true_cnt AS overcount
         FROM est ORDER BY est DESC, term LIMIT 20""",

    // mirrors x89: exact pairs at threshold 0.3 + the 16-slot MinHash
    // estimate from the SAME seed literals (MinHashSig.seeds), base
    // hashes = 60-bit md5 folded into the Mersenne-31 space
    "x89_minhash_fidelity" ->
      (shingleCte + s""",
         pairs AS (
           SELECT * FROM (
             SELECT a.doc_id AS da, b.doc_id AS db,
                    round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                          (len(a.sg) + len(b.sg)
                           - len(list_intersect(a.sg, b.sg))), 6) AS j
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
           WHERE j >= 0.3),
         seeds AS (SELECT * FROM (VALUES ${minhashSeedsSql(16)})
                   AS t(i, a, b)),
         u AS (SELECT doc_id, unnest(sg) AS g FROM sh),
         h AS (SELECT doc_id,
                 CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)
                   % 2147483647 AS hv
               FROM u),
         sig AS (SELECT doc_id, i, min((a * hv + b) % 2147483647) AS mn
                 FROM h, seeds GROUP BY doc_id, i),
         m AS (SELECT p.da, p.db, p.j,
                 sum(CASE WHEN sa.mn = sb.mn THEN 1 ELSE 0 END) AS mt
               FROM pairs p
               JOIN sig sa ON sa.doc_id = p.da
               JOIN sig sb ON sb.doc_id = p.db AND sb.i = sa.i
               GROUP BY p.da, p.db, p.j)
         SELECT da, db, j, round(CAST(mt AS DOUBLE) / 16, 6) AS j_est,
                round(abs(j - round(CAST(mt AS DOUBLE) / 16, 6)), 6)
                  AS abs_err
         FROM m ORDER BY da, db"""),

    // mirrors x90: 64-register HLL from the same md5 hash60 (j = h mod
    // 64, w = h div 64, rank = 55 - bitlength(w)), exact-integer
    // indicator sum, the shared hllConstant literal, __all = re-maxed
    // registers
    "x90_hll_distinct" ->
      s"""WITH sw AS (SELECT source,
                 regexp_split_to_array(trim(text), '\\s+') AS ws
               FROM documents),
         sh AS (SELECT source,
                  unnest(list_distinct(
                    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                     for i in generate_series(1, len(ws)-2)])) AS sg
                FROM sw WHERE len(ws) >= 3),
         h AS (SELECT source,
                 CAST('0x' || substr(md5(sg), 1, 15) AS BIGINT) AS h
               FROM sh),
         rk AS (SELECT source, h % 64 AS j,
                  CASE WHEN h // 64 = 0 THEN 55
                       ELSE 55 - length(ltrim(bin(h // 64), '0')) END AS rk
                FROM h),
         regs AS (SELECT source, j, max(rk) AS mx
                  FROM rk GROUP BY source, j),
         r2 AS (SELECT * FROM regs
                UNION ALL
                SELECT '__all' AS source, j, max(mx) AS mx
                FROM regs GROUP BY j),
         agg AS (SELECT source, 64 - count(*) AS v,
                   sum(CAST(1 AS BIGINT) << (55 - mx))
                     + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS s
                 FROM r2 GROUP BY source),
         e2 AS (SELECT source, v,
                  round(CASE WHEN v > 0 AND ${hllCLit} / s <= 160.0
                             THEN 64.0 * ln(CAST(64 AS DOUBLE) / v)
                             ELSE ${hllCLit} / s END, 6) AS est
                FROM agg),
         ex AS (SELECT source, count(DISTINCT sg) AS exact
                FROM sh GROUP BY source
                UNION ALL
                SELECT '__all', count(DISTINCT sg) FROM sh)
         SELECT e2.source, v, est, exact,
                round(abs(est - exact) / exact, 6) AS rel_err
         FROM e2 JOIN ex USING (source) ORDER BY source""",

    // mirrors x91: brute cosine top-10 (x10's rank contract) under
    // label-match relevance; the 6-dp discount/cumulative ladder is the
    // SAME literal table Similarity.dcgDiscounts embeds in the plan
    "x91_retrieval_ndcg" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e, label
               FROM embeddings),
         scored AS (
           SELECT a.vec_id AS qid, a.label AS qlabel,
                  b.vec_id AS cid, b.label AS clabel, $cosSql AS cos
           FROM e a JOIN e b ON a.vec_id < 20 AND a.vec_id != b.vec_id),
         t AS (SELECT * FROM (
                 SELECT qid, qlabel, cid, clabel,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY cos DESC, cid) AS rank
                 FROM scored) s WHERE rank <= 10),
         disc AS (SELECT * FROM (VALUES ${dcgLadderSql(10)})
                  AS d(r, disc, cum)),
         perq AS (SELECT qid, qlabel,
                    CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_rel_topk,
                    sum(CAST(CASE WHEN clabel = qlabel THEN d.disc
                             ELSE 0 END AS DECIMAL(38,12))) AS dcg,
                    min(CASE WHEN clabel = qlabel THEN rank END)
                      AS first_rel
                  FROM t JOIN disc d ON d.r = t.rank
                  GROUP BY qid, qlabel),
         rt AS (SELECT label, count(*) - 1 AS r_total
                FROM e GROUP BY label)
         SELECT qid, qlabel AS label, n_rel_topk,
                CASE WHEN r_total <= 0 THEN 0.0
                     ELSE round(CAST(dcg AS DOUBLE) /
                       (SELECT CAST(cum AS DOUBLE) FROM disc
                        WHERE r = least(10, r_total)), 6) END AS ndcg,
                coalesce(round(1.0 / first_rel, 6), 0.0) AS rr
         FROM perq JOIN rt ON rt.label = perq.qlabel
         ORDER BY qid""",

    // mirrors x92: bigram/unigram counts from one token pass, totals
    // from the per-doc length projection, PMI assembled in the same
    // association order
    "x92_pmi_collocations" ->
      """WITH d AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         u AS (SELECT w, count(*) AS c1
               FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w),
         tot AS (SELECT sum(len(ws)) AS n,
                   sum(greatest(len(ws) - 1, 0)) AS nb FROM d),
         b AS (SELECT pair, count(*) AS c12
               FROM (SELECT unnest([ws[i] || ' ' || ws[i+1]
                       for i in generate_series(1, len(ws)-1)]) AS pair
                     FROM d WHERE len(ws) >= 2)
               GROUP BY pair HAVING count(*) >= 5),
         j AS (SELECT pair, c12,
                 string_split(pair, ' ')[1] AS w1,
                 string_split(pair, ' ')[2] AS w2 FROM b)
         SELECT pair, c12,
                round(ln(CAST(c12 AS DOUBLE) * n * n /
                         (CAST(nb AS DOUBLE) * ua.c1 * ub.c1)), 6) AS pmi
         FROM j
         JOIN u ua ON ua.w = j.w1
         JOIN u ub ON ub.w = j.w2
         CROSS JOIN tot
         ORDER BY pmi DESC, pair LIMIT 20""",

    // mirrors x93: kmeansCte centroids, vector×centroid rounded cosines,
    // rn=1 own cell / rn=2 best other, sil = (own−other)/(1−other),
    // per-cell round-then-DECIMAL means
    "x93_cluster_silhouette" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCte(nCent = 8, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                  round(list_dot_product(x.e, c.ce) /
                        (sqrt(list_dot_product(x.e, x.e)) *
                         sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         ranked AS (SELECT vid, cent_id, ccos,
                      row_number() OVER (PARTITION BY vid
                                         ORDER BY ccos DESC, cent_id) AS rn
                    FROM cc),
         own AS (SELECT vid, cent_id AS cell, ccos AS own
                 FROM ranked WHERE rn = 1),
         oth AS (SELECT vid, ccos AS other FROM ranked WHERE rn = 2),
         sil AS (SELECT o.vid, o.cell, o.own,
                   CASE WHEN 1.0 - t.other = 0 THEN 0.0
                        ELSE round((o.own - t.other) / (1.0 - t.other), 6)
                   END AS sil
                 FROM own o JOIN oth t ON o.vid = t.vid)
         SELECT cell, count(*) AS n,
                round(CAST(sum(CAST(sil AS DECIMAL(38,12))) AS DOUBLE)
                      / count(*), 6) AS mean_sil,
                min(sil) AS min_sil,
                round(CAST(sum(CAST(own AS DECIMAL(38,12))) AS DOUBLE)
                      / count(*), 6) AS mean_cohesion
         FROM sil GROUP BY cell ORDER BY cell""",

    // mirrors x94: final cell assignment, within-cell pairs, per-source
    // top-5 window (cos desc, nid), mutual = reverse-edge join,
    // left-join stats with coalesce(0)
    "x94_knn_graph" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCteSeed(adaptiveCellsSql, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                  round(list_dot_product(x.e, c.ce) /
                        (sqrt(list_dot_product(x.e, x.e)) *
                         sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         asg AS (SELECT vid, cent_id AS cell FROM (
                   SELECT vid, cent_id,
                          row_number() OVER (PARTITION BY vid
                                             ORDER BY ccos DESC, cent_id) AS rn
                   FROM cc) t WHERE rn = 1),
         p AS (SELECT a.vid AS cid, a.cell, b.vid AS nid,
                 round(list_dot_product(x.e, y.e) /
                       (sqrt(list_dot_product(x.e, x.e)) *
                        sqrt(list_dot_product(y.e, y.e))), 6) AS cos
               FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid != b.vid
               JOIN e x ON x.vec_id = a.vid
               JOIN e y ON y.vec_id = b.vid),
         knn AS (SELECT cid, cell, nid, cos FROM (
                   SELECT cid, cell, nid, cos,
                          row_number() OVER (PARTITION BY cid
                                             ORDER BY cos DESC, nid) AS rn
                   FROM p) t WHERE rn <= 5),
         mut AS (SELECT k.cid, count(*) AS mutual_degree
                 FROM knn k JOIN knn r ON r.cid = k.nid AND r.nid = k.cid
                 GROUP BY k.cid),
         stats AS (SELECT cid, cell, count(*) AS degree,
                     round(CAST(sum(CAST(cos AS DECIMAL(38,12))) AS DOUBLE)
                           / count(*), 6) AS mean_cos
                   FROM knn GROUP BY cid, cell)
         SELECT a.vid AS vec_id, a.cell,
                coalesce(s.degree, 0) AS degree,
                coalesce(m.mutual_degree, 0) AS mutual_degree, s.mean_cos
         FROM asg a LEFT JOIN stats s ON s.cid = a.vid
                    LEFT JOIN mut m ON m.cid = a.vid
         ORDER BY vec_id""",

    // mirrors x95: 1e-6-quantized unit-vector coordinates as BIGINTs,
    // Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖u‖² per label in exact integer
    // arithmetic (HUGEINT for the squared dim sums), one final double
    // division
    "x95_label_dispersion" ->
      """WITH q AS (SELECT label, vec_id, g.d AS d,
                  CAST(round(CAST(embedding[g.d] AS DOUBLE) /
                        sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))
                        * 1000000.0) AS BIGINT) AS qd
                FROM embeddings, generate_series(1, 64) AS g(d)),
         per_row AS (SELECT label, vec_id, sum(qd*qd) AS q2
                     FROM q GROUP BY label, vec_id),
         per_label AS (SELECT label, count(*) AS n,
                         CAST(sum(q2) AS HUGEINT) AS sq2
                       FROM per_row GROUP BY label),
         dims AS (SELECT label, d, sum(qd) AS s FROM q GROUP BY label, d),
         s2 AS (SELECT label, sum(CAST(s AS HUGEINT) * s) AS s2
                FROM dims GROUP BY label)
         SELECT l.label, l.n,
                CASE WHEN l.n < 2 THEN NULL
                     ELSE round((CAST(t.s2 AS DOUBLE) - CAST(l.sq2 AS DOUBLE))
                                / CAST(l.n * (l.n - 1) AS DOUBLE)
                                / 1000000000000.0, 6)
                END AS mean_pair_cos
         FROM per_label l JOIN s2 t USING (label) ORDER BY label""",

    // mirrors x96: token counts → (cnt desc, token) top-200 → 6-dp ln
    // coordinates → OLS closed form from round-then-DECIMAL sums, the
    // identical literal expression order
    "x96_zipf_fit" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                  FROM documents),
         cnt AS (SELECT w, count(*) AS cnt FROM w GROUP BY w
                 ORDER BY cnt DESC, w LIMIT 200),
         xy AS (SELECT round(ln(row_number() OVER (ORDER BY cnt DESC, w)), 6) AS x,
                       round(ln(cnt), 6) AS y
                FROM cnt),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS m,
                 CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(round(x*y, 9) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(round(x*x, 9) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(round(y*y, 9) AS DECIMAL(38,12))) AS DOUBLE) AS syy
               FROM xy)
         SELECT CAST(m AS BIGINT) AS n_terms,
                CASE WHEN m*sxx - sx*sx = 0 THEN NULL
                     ELSE round((m*sxy - sx*sy) / (m*sxx - sx*sx), 6)
                END AS slope,
                CASE WHEN m*sxx - sx*sx = 0 THEN NULL
                     ELSE round((sy - (m*sxy - sx*sy) / (m*sxx - sx*sx) * sx)
                                / m, 6)
                END AS intercept,
                CASE WHEN m*sxx - sx*sx = 0 OR m*syy - sy*sy = 0 THEN NULL
                     ELSE round(((m*sxy - sx*sy) * (m*sxy - sx*sy)) /
                                ((m*sxx - sx*sx) * (m*syy - sy*sy)), 6)
                END AS r2
         FROM s""",

    // mirrors x97: exact lowercased-token blocklist hits per doc,
    // per-source rollup
    "x97_blocklist_gate" ->
      """WITH t AS (SELECT source,
                  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                      x -> list_contains(['slow','big','spam'], lower(x))))
                    AS hits
                FROM documents)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_flagged,
                CAST(sum(hits) AS BIGINT) AS total_hits,
                round(CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS flag_rate
         FROM t GROUP BY source ORDER BY source""",

    // mirrors x98: whitespace words, [.!?]+ sentence runs (min 1),
    // vowel-group syllables per word (min 1) via list_transform, the
    // Flesch formula in the identical literal order
    "x98_readability" ->
      """WITH t AS (SELECT doc_id,
                  regexp_split_to_array(trim(text), '\s+') AS ws,
                  greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS ns
                FROM documents),
         r AS (SELECT doc_id,
                 CAST(len(ws) AS BIGINT) AS n_words,
                 CAST(ns AS BIGINT) AS n_sentences,
                 CAST(list_sum(list_transform(ws,
                   w -> greatest(1, len(regexp_extract_all(lower(w),
                                        '[aeiouy]+'))))) AS BIGINT)
                   AS n_syllables
               FROM t)
         SELECT doc_id, n_words, n_sentences, n_syllables,
                CASE WHEN n_words = 0 THEN NULL
                     ELSE round(206.835
                                - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                                - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words),
                                6)
                END AS flesch
         FROM r ORDER BY doc_id""",

    // mirrors x99: (doc, token) counts → token rollup, cf ≥ 20, top-20
    // by (burstiness desc, token)
    "x99_token_burstiness" ->
      """WITH w AS (SELECT doc_id,
                  unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                FROM documents),
         dt AS (SELECT doc_id, w, count(*) AS n FROM w GROUP BY doc_id, w),
         t AS (SELECT w AS token, CAST(sum(n) AS BIGINT) AS cf,
                      count(*) AS df
               FROM dt GROUP BY w HAVING CAST(sum(n) AS BIGINT) >= 20)
         SELECT token, cf, df,
                round(CAST(cf AS DOUBLE) / df, 6) AS burstiness
         FROM t ORDER BY burstiness DESC, token LIMIT 20""",

    // mirrors x100: md5 of the first-8-token join, per-(source, prefix)
    // counts, per-source rollup of docs in repeated-prefix groups
    "x100_template_prefix" ->
      """WITH fp AS (SELECT source,
                  md5(array_to_string(list_slice(
                    regexp_split_to_array(trim(text), '\s+'), 1, 8), ' '))
                    AS pfp
                FROM documents),
         g AS (SELECT source, pfp, count(*) AS n
               FROM fp GROUP BY source, pfp)
         SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
                count(*) AS n_prefixes,
                CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
                  AS n_templated,
                round(CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS DOUBLE)
                      / sum(n), 6) AS template_rate
         FROM g GROUP BY source ORDER BY source""",

    // mirrors x101: x25's max-abs int8 codes dequantized, ordered-fold
    // cosine vs the original, 1-row rollup; zero vectors pin cos = 1
    "x101_int8_quant_error" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
         s AS (SELECT e, list_max(list_transform(e, x -> abs(x))) AS s0
               FROM e),
         s2 AS (SELECT e, CASE WHEN s0 = 0 THEN 1.0 ELSE s0 END AS ss
                FROM s),
         d AS (SELECT e,
                 list_transform(e, x ->
                   CAST(CAST(round(x / ss * 127) AS INTEGER) AS DOUBLE)
                     * ss / 127) AS deq
               FROM s2),
         c AS (SELECT CASE
                 WHEN sqrt(list_dot_product(e, e))
                      * sqrt(list_dot_product(deq, deq)) = 0 THEN 1.0
                 ELSE round(list_dot_product(e, deq) /
                        (sqrt(list_dot_product(e, e)) *
                         sqrt(list_dot_product(deq, deq))), 6)
               END AS cos FROM d)
         SELECT count(*) AS n,
                round(CAST(sum(CAST(cos AS DECIMAL(38,12))) AS DOUBLE)
                      / count(*), 6) AS mean_cos,
                min(cos) AS min_cos,
                CAST(sum(CASE WHEN cos < 0.999 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_below_999
         FROM c""",

    // mirrors x102: the x90 register derivation with base/batch/merged
    // groups, exact novelty via NOT IN over distinct shingles
    "x102_hll_novelty" ->
      s"""WITH sw AS (SELECT source,
                 regexp_split_to_array(trim(text), '\\s+') AS ws
               FROM documents),
         sh AS (SELECT source,
                  unnest(list_distinct(
                    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                     for i in generate_series(1, len(ws)-2)])) AS sg
                FROM sw WHERE len(ws) >= 3),
         lab AS (SELECT CASE WHEN source = 'src0' THEN 'batch'
                             ELSE 'base' END AS grp, sg FROM sh),
         h AS (SELECT grp,
                 CAST('0x' || substr(md5(sg), 1, 15) AS BIGINT) AS h
               FROM lab),
         rk AS (SELECT grp, h % 64 AS j,
                  CASE WHEN h // 64 = 0 THEN 55
                       ELSE 55 - length(ltrim(bin(h // 64), '0')) END AS rk
                FROM h),
         regs AS (SELECT grp, j, max(rk) AS mx FROM rk GROUP BY grp, j),
         r2 AS (SELECT * FROM regs
                UNION ALL
                SELECT 'merged' AS grp, j, max(mx) AS mx
                FROM regs GROUP BY j),
         agg AS (SELECT grp, 64 - count(*) AS v,
                   sum(CAST(1 AS BIGINT) << (55 - mx))
                     + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS s
                 FROM r2 GROUP BY grp),
         e2 AS (SELECT grp,
                  round(CASE WHEN v > 0 AND ${hllCLit} / s <= 160.0
                             THEN 64.0 * ln(CAST(64 AS DOUBLE) / v)
                             ELSE ${hllCLit} / s END, 6) AS est
                FROM agg),
         wide AS (SELECT
                    max(CASE WHEN grp = 'base' THEN est END) AS est_base,
                    max(CASE WHEN grp = 'batch' THEN est END) AS est_batch,
                    max(CASE WHEN grp = 'merged' THEN est END) AS est_merged
                  FROM e2),
         ex AS (SELECT count(DISTINCT sg) AS exact_new
                FROM lab b WHERE grp = 'batch'
                  AND sg NOT IN (SELECT sg FROM lab WHERE grp = 'base'))
         SELECT est_base, est_batch, est_merged,
                round(est_merged - est_base, 6) AS est_new, exact_new,
                CASE WHEN exact_new = 0 THEN NULL
                     ELSE round(abs(round(est_merged - est_base, 6)
                                    - exact_new) / exact_new, 6)
                END AS rel_err
         FROM wide CROSS JOIN ex""",

    // mirrors x103: hash60("wrs:"||doc_id)+1 over 2^60 as the uniform,
    // priority = round(ln(u)/n_chars, 9), global top-100 with doc_id
    // tie-break
    "x103_weighted_sample" ->
      """SELECT doc_id, source, n_chars,
                round(ln((CAST('0x' ||
                    substr(md5('wrs:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) + 1) / 1152921504606846976.0)
                  / n_chars, 9) AS priority
         FROM documents WHERE n_chars > 0
         ORDER BY priority DESC, doc_id LIMIT 100""",

    // mirrors x104: the x94 knn CTE chain, mutual edges u<v, degree
    // orientation, wedges at the low endpoint, closure against the
    // undirected edge list, per-cell rollup
    "x104_triangle_stats" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCteSeed(adaptiveCellsSql, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                  round(list_dot_product(x.e, c.ce) /
                        (sqrt(list_dot_product(x.e, x.e)) *
                         sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         asg AS (SELECT vid, cent_id AS cell FROM (
                   SELECT vid, cent_id,
                          row_number() OVER (PARTITION BY vid
                                             ORDER BY ccos DESC, cent_id) AS rn
                   FROM cc) t WHERE rn = 1),
         p AS (SELECT a.vid AS cid, a.cell, b.vid AS nid,
                 round(list_dot_product(x.e, y.e) /
                       (sqrt(list_dot_product(x.e, x.e)) *
                        sqrt(list_dot_product(y.e, y.e))), 6) AS cos
               FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid != b.vid
               JOIN e x ON x.vec_id = a.vid
               JOIN e y ON y.vec_id = b.vid),
         knn AS (SELECT cid, cell, nid FROM (
                   SELECT cid, cell, nid,
                          row_number() OVER (PARTITION BY cid
                                             ORDER BY cos DESC, nid) AS rn
                   FROM p) t WHERE rn <= 5),
         mutual AS (SELECT k.cell, k.cid AS u, k.nid AS v
                    FROM knn k JOIN knn r
                      ON r.cid = k.nid AND r.nid = k.cid
                    WHERE k.cid < k.nid),
         deg AS (SELECT cell, n, count(*) AS deg FROM (
                   SELECT cell, u AS n FROM mutual
                   UNION ALL SELECT cell, v AS n FROM mutual) t
                 GROUP BY cell, n),
         orient AS (SELECT m.cell,
                      CASE WHEN du.deg < dv.deg
                             OR (du.deg = dv.deg AND m.u < m.v)
                           THEN m.u ELSE m.v END AS lo,
                      CASE WHEN du.deg < dv.deg
                             OR (du.deg = dv.deg AND m.u < m.v)
                           THEN m.v ELSE m.u END AS hi
                    FROM mutual m
                    JOIN deg du ON du.cell = m.cell AND du.n = m.u
                    JOIN deg dv ON dv.cell = m.cell AND dv.n = m.v),
         wed AS (SELECT o1.cell, o1.hi AS u, o2.hi AS v
                 FROM orient o1 JOIN orient o2
                   ON o1.cell = o2.cell AND o1.lo = o2.lo
                  AND o1.hi < o2.hi),
         tri AS (SELECT w.cell, count(*) AS n_triangles
                 FROM wed w JOIN mutual m
                   ON m.cell = w.cell AND m.u = w.u AND m.v = w.v
                 GROUP BY w.cell),
         roll AS (SELECT cell, count(*) AS n_nodes,
                    CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
                  FROM deg GROUP BY cell),
         ed AS (SELECT cell, count(*) AS n_edges FROM mutual GROUP BY cell)
         SELECT r.cell, r.n_nodes, ed.n_edges, r.n_wedges,
                coalesce(t.n_triangles, 0) AS n_triangles,
                CASE WHEN r.n_wedges = 0 THEN NULL
                     ELSE round(3.0 * coalesce(t.n_triangles, 0)
                                / r.n_wedges, 6)
                END AS clustering
         FROM roll r JOIN ed USING (cell) LEFT JOIN tri t USING (cell)
         ORDER BY r.cell""",

    // mirrors x105: the x104 mutual-edge derivation, then 3 unrolled
    // damped power iterations in exact integer units (rank·1e12 as
    // BIGINT, damping 85/100, (2a+b)//(2b) round-half-up divides —
    // no doubles anywhere, so the engines agree bit-for-bit)
    "x105_pagerank" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCteSeed(adaptiveCellsSql, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                  round(list_dot_product(x.e, c.ce) /
                        (sqrt(list_dot_product(x.e, x.e)) *
                         sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         asg AS (SELECT vid, cent_id AS cell FROM (
                   SELECT vid, cent_id,
                          row_number() OVER (PARTITION BY vid
                                             ORDER BY ccos DESC, cent_id) AS rn
                   FROM cc) t WHERE rn = 1),
         p AS (SELECT a.vid AS cid, a.cell, b.vid AS nid,
                 round(list_dot_product(x.e, y.e) /
                       (sqrt(list_dot_product(x.e, x.e)) *
                        sqrt(list_dot_product(y.e, y.e))), 6) AS cos
               FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid != b.vid
               JOIN e x ON x.vec_id = a.vid
               JOIN e y ON y.vec_id = b.vid),
         knn AS (SELECT cid, cell, nid FROM (
                   SELECT cid, cell, nid,
                          row_number() OVER (PARTITION BY cid
                                             ORDER BY cos DESC, nid) AS rn
                   FROM p) t WHERE rn <= 5),
         mutual AS (SELECT k.cell, k.cid AS u, k.nid AS v
                    FROM knn k JOIN knn r
                      ON r.cid = k.nid AND r.nid = k.cid
                    WHERE k.cid < k.nid),
         dir AS (SELECT u AS src, v AS dst FROM mutual
                 UNION ALL SELECT v AS src, u AS dst FROM mutual),
         deg AS (SELECT src, count(*) AS deg FROM dir GROUP BY src),
         pr0 AS (SELECT src AS n, CAST(1000000000000 AS BIGINT) AS ru
                 FROM deg),
         pr1 AS (SELECT d.src AS n,
                   CAST(150000000000 + coalesce(
                     (2 * 85 * c.s + 100) // 200, 0) AS BIGINT) AS ru
                 FROM deg d LEFT JOIN (
                   SELECT ed.dst,
                     sum((2 * p0.ru + g.deg) // (2 * g.deg)) AS s
                   FROM dir ed JOIN pr0 p0 ON p0.n = ed.src
                   JOIN deg g ON g.src = ed.src
                   GROUP BY ed.dst) c ON c.dst = d.src),
         pr2 AS (SELECT d.src AS n,
                   CAST(150000000000 + coalesce(
                     (2 * 85 * c.s + 100) // 200, 0) AS BIGINT) AS ru
                 FROM deg d LEFT JOIN (
                   SELECT ed.dst,
                     sum((2 * p1.ru + g.deg) // (2 * g.deg)) AS s
                   FROM dir ed JOIN pr1 p1 ON p1.n = ed.src
                   JOIN deg g ON g.src = ed.src
                   GROUP BY ed.dst) c ON c.dst = d.src),
         pr3 AS (SELECT d.src AS n,
                   CAST(150000000000 + coalesce(
                     (2 * 85 * c.s + 100) // 200, 0) AS BIGINT) AS ru
                 FROM deg d LEFT JOIN (
                   SELECT ed.dst,
                     sum((2 * p2.ru + g.deg) // (2 * g.deg)) AS s
                   FROM dir ed JOIN pr2 p2 ON p2.n = ed.src
                   JOIN deg g ON g.src = ed.src
                   GROUP BY ed.dst) c ON c.dst = d.src),
         nodecell AS (SELECT DISTINCT cell, u AS n FROM mutual
                      UNION SELECT DISTINCT cell, v AS n FROM mutual)
         SELECT p.n AS vec_id, nc.cell, g.deg, p.ru AS rank_e12
         FROM pr3 p JOIN nodecell nc ON nc.n = p.n
         JOIN deg g ON g.src = p.n
         ORDER BY rank_e12 DESC, vec_id LIMIT 20""",

    // mirrors x106: unrolled greedy farthest-point steps — each one
    // (argmin max-cos, tie by id) + a min-cos... see kCenterSql
    "x106_kcenter_coreset" -> kCenterSql(k = 8),

    // mirrors x107: same ascending-capacity window and exact-integer
    // boundary test; the equal share is one integer-derived division
    "x107_unimax_alloc" ->
      """WITH t AS (SELECT source,
                len(regexp_split_to_array(trim(text), '\s+')) AS nt
              FROM documents),
         s AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
               FROM t GROUP BY source),
         c AS (SELECT source, n_tokens, n_tokens * 4 AS cap FROM s),
         r AS (SELECT source, n_tokens, cap,
                 row_number() OVER (ORDER BY cap ASC, source ASC) AS idx,
                 coalesce(sum(cap) OVER (ORDER BY cap ASC, source ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS pre,
                 count(*) OVER () AS nsrc
               FROM c),
         f AS (SELECT *, cap * (nsrc - idx + 1) <= 100000 - pre AS fits
               FROM r),
         b AS (SELECT min(idx) AS t, min_by(pre, idx) AS pre_t
               FROM f WHERE NOT fits),
         a AS (SELECT source, n_tokens, cap, nsrc,
                 CASE WHEN b.t IS NULL OR idx < b.t THEN CAST(cap AS DOUBLE)
                      ELSE round(CAST(100000 - b.pre_t AS DOUBLE)
                                 / (nsrc - b.t + 1), 3)
                 END AS alloc
               FROM f CROSS JOIN b)
         SELECT source, n_tokens, cap AS cap_tokens, alloc AS alloc_tokens,
                round(alloc / n_tokens, 6) AS epochs
         FROM a ORDER BY source""",

    // mirrors x108: the x104 cell assignment, the x18 md5 bucket as the
    // sample flag, exact counts, integer-product ratios inside ln
    "x108_coverage_audit" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCte(nCent = 8, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                  round(list_dot_product(x.e, c.ce) /
                        (sqrt(list_dot_product(x.e, x.e)) *
                         sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         asg AS (SELECT vid, cent_id AS cell FROM (
                   SELECT vid, cent_id,
                          row_number() OVER (PARTITION BY vid
                                             ORDER BY ccos DESC, cent_id) AS rn
                   FROM cc) t WHERE rn = 1),
         fl AS (SELECT vid, cell,
                  (CAST('0x' || substr(md5('cov:' || CAST(vid AS VARCHAR)),
                        1, 8) AS BIGINT) % 100) < 10 AS in_sample
                FROM asg),
         per AS (SELECT cell, count(*) AS n_corpus,
                   CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_sample
                 FROM fl GROUP BY cell),
         tot AS (SELECT CAST(sum(n_corpus) AS BIGINT) AS tc,
                   CAST(sum(n_sample) AS BIGINT) AS ts FROM per)
         SELECT cell, n_corpus, n_sample,
                round(CAST(n_corpus AS DOUBLE) / tc, 6) AS p_corpus,
                CASE WHEN ts = 0 THEN NULL
                     ELSE round(CAST(n_sample AS DOUBLE) / ts, 6)
                END AS p_sample,
                CASE WHEN n_sample > 0
                     THEN round(ln(CAST(n_sample * tc AS DOUBLE)
                                   / CAST(n_corpus * ts AS DOUBLE)), 6)
                END AS log_ratio,
                CASE WHEN n_sample > 0
                     THEN round((CAST(n_sample AS DOUBLE) / ts)
                                * ln(CAST(n_sample * tc AS DOUBLE)
                                     / CAST(n_corpus * ts AS DOUBLE)), 9)
                     ELSE 0.0
                END AS kl_term
         FROM per CROSS JOIN tot ORDER BY cell""",

    // mirrors x109: same integer bucket math (bit-length octave + 8
    // linear sub-buckets), window cumsum, interpolated read-out; /8 is
    // exact so the interpolation sees identical doubles
    "x109_quantile_sketch" ->
      """WITH v AS (SELECT source, greatest(n_chars, 1) AS v
                    FROM documents),
         bk AS (SELECT source, length(bin(v)) AS b,
                  (CAST(1 AS BIGINT) << (length(bin(v)) - 1)) AS lo,
                  ((v - (CAST(1 AS BIGINT) << (length(bin(v)) - 1))) * 8)
                    // (CAST(1 AS BIGINT) << (length(bin(v)) - 1)) AS sub
                FROM v),
         sk AS (SELECT source, b, sub, lo, count(*) AS cnt
                FROM bk GROUP BY 1, 2, 3, 4),
         c AS (SELECT *,
                 CAST(sum(cnt) OVER (PARTITION BY source
                   ORDER BY b, sub) AS BIGINT) AS cum
               FROM sk),
         t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n
               FROM sk GROUP BY source),
         qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE])
                  AS q),
         j AS (SELECT c.source, qq.q, t.n, c.lo, c.sub, c.cnt,
                 c.cum - c.cnt AS cum_before, qq.q * t.n AS target, c.cum
               FROM c JOIN t USING (source) CROSS JOIN qq)
         SELECT source, q, n,
                round(CAST(lo * (8 + sub) AS DOUBLE) / 8
                      + (CAST(lo * (9 + sub) AS DOUBLE) / 8
                         - CAST(lo * (8 + sub) AS DOUBLE) / 8)
                        * (target - cum_before) / cnt, 6) AS est_value
         FROM j WHERE cum_before < target AND target <= cum
         ORDER BY source, q""",

    // mirrors x110: the full x58 GD unroll as a nested-WITH subquery,
    // then sigmoid → 6-dp → clamped equal-width bins → exact-count and
    // round-then-DECIMAL bin stats
    "x110_probe_calibration" ->
      s"""WITH probe AS (
           SELECT * FROM (${linearProbeSql(dim = 64, iters = 3,
             lr = "0.1")}) lp
         ),
         b AS (SELECT round(1.0 / (1.0 + exp(-score)), 6) AS p,
                 label_target AS y
               FROM probe),
         g AS (SELECT CAST(least(floor(p * 10), 9) AS INTEGER) AS bin,
                 count(*) AS n,
                 CAST(sum(y) AS BIGINT) AS n_pos,
                 CAST(sum(CAST(p AS DECIMAL(38,12))) AS DOUBLE) AS p_sum
               FROM b GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g)
         SELECT bin, n, n_pos,
                round(p_sum / n, 6) AS mean_p,
                round(CAST(n_pos AS DOUBLE) / n, 6) AS frac_pos,
                round(abs(round(p_sum / n, 6)
                          - round(CAST(n_pos AS DOUBLE) / n, 6)), 6)
                  AS gap,
                round(CAST(n AS DOUBLE) / n_total *
                      round(abs(round(p_sum / n, 6)
                            - round(CAST(n_pos AS DOUBLE) / n, 6)), 6), 9)
                  AS ece_term
         FROM g CROSS JOIN t ORDER BY bin""",

    // mirrors x111: the x94/x104 knn CTE chain + label joins on both
    // edge endpoints, per-vector agreement over exact counts
    "x111_label_agreement" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCteSeed(adaptiveCellsSql, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                  round(list_dot_product(x.e, c.ce) /
                        (sqrt(list_dot_product(x.e, x.e)) *
                         sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         asg AS (SELECT vid, cent_id AS cell FROM (
                   SELECT vid, cent_id,
                          row_number() OVER (PARTITION BY vid
                                             ORDER BY ccos DESC, cent_id) AS rn
                   FROM cc) t WHERE rn = 1),
         p AS (SELECT a.vid AS cid, b.vid AS nid,
                 round(list_dot_product(x.e, y.e) /
                       (sqrt(list_dot_product(x.e, x.e)) *
                        sqrt(list_dot_product(y.e, y.e))), 6) AS cos
               FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid != b.vid
               JOIN e x ON x.vec_id = a.vid
               JOIN e y ON y.vec_id = b.vid),
         knn AS (SELECT cid, nid FROM (
                   SELECT cid, nid,
                          row_number() OVER (PARTITION BY cid
                                             ORDER BY cos DESC, nid) AS rn
                   FROM p) t WHERE rn <= 5),
         lab AS (SELECT vec_id, label FROM embeddings)
         SELECT k.cid AS vec_id, ls.label, count(*) AS n_nbrs,
                CAST(sum(CASE WHEN ln.label = ls.label THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_same,
                round(CAST(sum(CASE WHEN ln.label = ls.label
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS agreement,
                round(CAST(sum(CASE WHEN ln.label = ls.label
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) < 0.5 AS suspect
         FROM knn k
         JOIN lab ls ON ls.vec_id = k.cid
         JOIN lab ln ON ln.vec_id = k.nid
         GROUP BY k.cid, ls.label
         ORDER BY vec_id""",

    // mirrors x112: per-label counts, (1−β)/(1−β^n) at 9 dp, decimal
    // normalizer, mean-1 normalization at 6 dp
    "x112_class_weights" ->
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings
                    GROUP BY label),
         r AS (SELECT label, n,
                 round((1.0 - 0.999)
                       / (1.0 - pow(0.999, CAST(n AS DOUBLE))), 9) AS raw
               FROM c),
         t AS (SELECT CAST(sum(CAST(raw AS DECIMAL(38,12))) AS DOUBLE)
                   AS raw_sum,
                 count(*) AS n_classes
               FROM r)
         SELECT label, n,
                round(raw * n_classes / raw_sum, 6) AS weight
         FROM r CROSS JOIN t ORDER BY label""",

    // mirrors x113: daily counts densified to each type's min..max
    // calendar-day grid (outage days appear as n = 0 instead of
    // vanishing from the rollup), trailing-7 ROWS window, variance from
    // exact integer window sums, z gated on full history + positive
    // variance
    "x113_event_anomaly" ->
      """WITH observed AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  count(*) AS n
                FROM events GROUP BY 1, 2),
         grid AS (SELECT event_type,
                    CAST(unnest(generate_series(d0, d1,
                      INTERVAL 1 DAY)) AS DATE) AS day
                  FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
                        FROM observed GROUP BY 1)),
         daily AS (SELECT g.event_type, g.day,
                     coalesce(o.n, 0) AS n
                   FROM grid g LEFT JOIN observed o
                     ON g.event_type = o.event_type AND g.day = o.day),
         w AS (SELECT event_type, day, n,
                 count(*) OVER tw AS k,
                 CAST(sum(n) OVER tw AS BIGINT) AS sx,
                 CAST(sum(n * n) OVER tw AS BIGINT) AS sxx
               FROM daily
               WINDOW tw AS (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         v AS (SELECT *, CAST(sx AS DOUBLE) / k AS m,
                 (CAST(sxx AS DOUBLE) - k * (CAST(sx AS DOUBLE) / k)
                    * (CAST(sx AS DOUBLE) / k)) / (k - 1) AS variance
               FROM w)
         SELECT event_type, day, n,
                CASE WHEN k = 7 THEN round(m, 6) END AS trail_mean,
                CASE WHEN k = 7 AND variance > 0
                     THEN round((n - m) / sqrt(variance), 6)
                END AS z,
                coalesce(abs(CASE WHEN k = 7 AND variance > 0
                     THEN round((n - m) / sqrt(variance), 6)
                END) >= 3, false) AS anomaly
         FROM v ORDER BY event_type, day""",

    // mirrors x114: char explode → exact counts → H = log2(n) −
    // (Σ round(cnt·ln cnt, 6) DECIMAL-summed)/(n·ln 2), empties at 0
    "x114_char_entropy" ->
      """WITH c AS (SELECT doc_id, source,
                  unnest([substr(text, CAST(i AS INTEGER), 1)
                          for i in generate_series(1, len(text))]) AS ch
                FROM documents WHERE len(coalesce(text, '')) > 0),
         cnts AS (SELECT doc_id, source, ch, count(*) AS cnt
                  FROM c GROUP BY 1, 2, 3),
         e AS (SELECT doc_id, source,
                 CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(sum(CAST(round(cnt * ln(CAST(cnt AS DOUBLE)), 6)
                   AS DECIMAL(38,12))) AS DOUBLE) AS s
               FROM cnts GROUP BY 1, 2),
         out AS (SELECT doc_id, source,
                   round((ln(CAST(n AS DOUBLE)) - s / n) / ln(2), 6)
                     AS entropy
                 FROM e
                 UNION ALL
                 SELECT doc_id, source, 0.0 FROM documents
                 WHERE len(coalesce(text, '')) = 0)
         SELECT doc_id, source, entropy, entropy < 2.0 AS low_entropy
         FROM out ORDER BY doc_id""",

    // mirrors x115: the x02/x98/x114 signal formulas, per-source
    // percent_rank with NULLS FIRST pinned + doc_id tie-break, exact
    // rational percentiles averaged, row_number blend rank
    "x115_quality_ensemble" ->
      """WITH qc AS (SELECT doc_id, source,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                       AS INTEGER) AS n_tokens,
                  CAST(len(regexp_extract_all(lower(text),
                    '\b(the|and|of|to|a|in|is|it|for|on)\b'))
                       AS INTEGER) AS n_stop,
                  CAST(len(regexp_extract_all(text, '[.,;:!?]'))
                       AS INTEGER) AS n_punct,
                  length(text) AS n_chars
                FROM documents),
         q AS (SELECT doc_id, source,
                 round(0.5 * least(n_tokens / 100.0, 1.0)
                     + 0.3 * least((CAST(n_stop AS DOUBLE) / n_tokens) * 5,
                                   1.0)
                     + 0.2 * (1.0 - least((CAST(n_punct AS DOUBLE)
                                           / greatest(n_chars, 1)) * 10,
                                          1.0)), 6) AS quality
               FROM qc),
         ft AS (SELECT doc_id,
                  regexp_split_to_array(trim(text), '\s+') AS ws,
                  greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                    AS ns
                FROM documents),
         f AS (SELECT doc_id,
                 CASE WHEN len(ws) = 0 THEN NULL
                      ELSE round(206.835
                          - 1.015 * (CAST(len(ws) AS DOUBLE) / ns)
                          - 84.6 * (CAST(list_sum(list_transform(ws,
                              w -> greatest(1, len(regexp_extract_all(
                                     lower(w), '[aeiouy]+')))))
                                    AS DOUBLE) / len(ws)), 6)
                 END AS flesch
               FROM ft),
         ec AS (SELECT doc_id,
                  unnest([substr(text, CAST(i AS INTEGER), 1)
                          for i in generate_series(1, len(text))]) AS ch
                FROM documents WHERE len(coalesce(text, '')) > 0),
         ecnt AS (SELECT doc_id, ch, count(*) AS cnt
                  FROM ec GROUP BY 1, 2),
         esum AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
                    CAST(sum(CAST(round(cnt * ln(CAST(cnt AS DOUBLE)), 6)
                      AS DECIMAL(38,12))) AS DOUBLE) AS s
                  FROM ecnt GROUP BY 1),
         e AS (SELECT doc_id,
                 round((ln(CAST(n AS DOUBLE)) - s / n) / ln(2), 6)
                   AS entropy
               FROM esum
               UNION ALL
               SELECT doc_id, 0.0 FROM documents
               WHERE len(coalesce(text, '')) = 0),
         j AS (SELECT q.doc_id, q.source, q.quality, f.flesch, e.entropy
               FROM q JOIN f ON f.doc_id = q.doc_id
               JOIN e ON e.doc_id = q.doc_id),
         p AS (SELECT *,
                 round((percent_rank() OVER (PARTITION BY source
                          ORDER BY quality ASC NULLS FIRST, doc_id ASC)
                      + percent_rank() OVER (PARTITION BY source
                          ORDER BY flesch ASC NULLS FIRST, doc_id ASC)
                      + percent_rank() OVER (PARTITION BY source
                          ORDER BY entropy ASC NULLS FIRST, doc_id ASC))
                       / 3, 6) AS ens_pct
               FROM j)
         SELECT doc_id, source, quality, flesch, entropy, ens_pct,
                CAST(row_number() OVER (PARTITION BY source
                  ORDER BY ens_pct DESC, doc_id ASC) AS INTEGER)
                  AS ens_rank
         FROM p ORDER BY source, ens_rank""",

    // mirrors x128: the production front end (sampled training +
    // two-level assignment, productionAssignCtes) feeding x94's
    // cell-local edge/stat chain — the composed path hash-checked end
    // to end
    "x128_knn_production" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         $productionAssignCtes,
         p AS (SELECT a.vec_id AS cid, a.cell, b.vec_id AS nid,
                 round(list_dot_product(x.e, y.e) /
                       (sqrt(list_dot_product(x.e, x.e)) *
                        sqrt(list_dot_product(y.e, y.e))), 6) AS cos
               FROM s2 a JOIN s2 b ON a.cell = b.cell
                                  AND a.vec_id != b.vec_id
               JOIN e x ON x.vec_id = a.vec_id
               JOIN e y ON y.vec_id = b.vec_id),
         knn AS (SELECT cid, cell, nid, cos FROM (
                   SELECT cid, cell, nid, cos,
                          row_number() OVER (PARTITION BY cid
                                             ORDER BY cos DESC, nid) AS rn
                   FROM p) t WHERE rn <= 5),
         mut AS (SELECT k.cid, count(*) AS mutual_degree
                 FROM knn k JOIN knn r ON r.cid = k.nid AND r.nid = k.cid
                 GROUP BY k.cid),
         stats AS (SELECT cid, cell, count(*) AS degree,
                     round(CAST(sum(CAST(cos AS DECIMAL(38,12))) AS DOUBLE)
                           / count(*), 6) AS mean_cos
                   FROM knn GROUP BY cid, cell)
         SELECT a.vec_id, a.cell,
                coalesce(s.degree, 0) AS degree,
                coalesce(m.mutual_degree, 0) AS mutual_degree, s.mean_cos
         FROM s2 a LEFT JOIN stats s ON s.cid = a.vec_id
                   LEFT JOIN mut m ON m.cid = a.vec_id
         ORDER BY vec_id"""),

    // mirrors x132: the width DECISION replicated bit for bit (1024-doc
    // md5-ordered sample of non-empty docs, 60-bit fingerprints, the
    // same 20 ascending-packed C(6,3) combo keys, pair-mass
    // extrapolation (m2/2)·n/s², cutoff 32), then the chosen chain —
    // x82's 60-bit pairs under est <= 32, x117's 120-bit pairs past it
    "x132_simhash_auto_neardup" -> simhashAutoSql,

    // mirrors x129: x41's winnow chain with the df <= 100 cap CTE
    "x129_substring_overlap_capped" ->
      winnowPairsSql(k = 16, w = 8, minShared = 10, maxDf = Some(100L)),

    // mirrors x133: probe + decision + the chosen winnow chain
    "x133_substring_overlap_auto" ->
      winnowAutoSql(k = 16, w = 8, minShared = 10),

    // mirrors x134: the same mod-M hashed shingle universe, the same
    // k literal universal-hash slot minima, the same agreement ratio
    "x134_source_minhash_matrix" -> sourceMinhashSql(64),

    // mirrors x136: the exact pair set audits itself — a correct LSH
    // run hits every exact pair (auto picks r=2 here; miss ~1e-8), so
    // n_hit = n_exact and recall = 1.0 by construction on the oracle
    // side; a Spark-side recall drop hash-mismatches
    "x136_lsh_recall_audit" ->
      (shingleCte + """,
         p AS (SELECT a.doc_id AS da, b.doc_id AS db,
                 round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                       (len(a.sg) + len(b.sg)
                        - len(list_intersect(a.sg, b.sg))), 6) AS j
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         e AS (SELECT da, db FROM p WHERE j >= 0.5)
         SELECT count(*) AS n_exact,
                CAST(count(*) AS BIGINT) AS n_hit,
                round(count(*)::DOUBLE / count(*), 6) AS recall
         FROM e"""),

    // mirrors x135: per-doc distinct-shingle rows, integer df·20 > N
    // ubiquity flag, 6-dp share
    "x135_boilerplate_fraction" ->
      (shingleCte + """,
         f AS (SELECT doc_id, unnest(sg) AS s FROM sh),
         df AS (SELECT s, count(*) AS df FROM f GROUP BY s),
         nn AS (SELECT count(*) AS n FROM documents)
         SELECT doc_id, count(*) AS n_sg,
                CAST(sum(CASE WHEN df.df * 20 > (SELECT n FROM nn)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
                round(sum(CASE WHEN df.df * 20 > (SELECT n FROM nn)
                          THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
                  AS boiler_frac
         FROM f JOIN df USING (s)
         GROUP BY doc_id ORDER BY doc_id"""),

    // mirrors x130: the shared production front end feeding x39's
    // within-cell dup chain
    "x130_semantic_dedup_production" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         $productionAssignCtes,
         dups AS (SELECT DISTINCT b.vec_id AS dup_id
                  FROM s2 a
                  JOIN s2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  JOIN e ea ON ea.vec_id = a.vec_id
                  JOIN e eb ON eb.vec_id = b.vec_id
                  WHERE round(list_dot_product(ea.e, eb.e) /
                              (sqrt(list_dot_product(ea.e, ea.e)) *
                               sqrt(list_dot_product(eb.e, eb.e))), 6)
                        >= 0.4)
         SELECT c.vec_id, c.cell, (d.dup_id IS NULL) AS is_rep
         FROM s2 c LEFT JOIN dups d ON c.vec_id = d.dup_id
         ORDER BY vec_id"""),

    // mirrors x131: the at-rest edge relation equals the exact
    // adaptive-cell kNN edge build from scratch (x94's assignment +
    // edge CTEs, edge rows instead of per-node stats)
    "x131_knn_index_resident" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${kmeansCteSeed(adaptiveCellsSql, iters = 3, dim = 64)},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                  round(list_dot_product(x.e, c.ce) /
                        (sqrt(list_dot_product(x.e, x.e)) *
                         sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         asg AS (SELECT vid, cent_id AS cell FROM (
                   SELECT vid, cent_id,
                          row_number() OVER (PARTITION BY vid
                                             ORDER BY ccos DESC, cent_id) AS rn
                   FROM cc) t WHERE rn = 1),
         p AS (SELECT a.vid AS cid, a.cell, b.vid AS nid,
                 round(list_dot_product(x.e, y.e) /
                       (sqrt(list_dot_product(x.e, x.e)) *
                        sqrt(list_dot_product(y.e, y.e))), 6) AS cos
               FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid != b.vid
               JOIN e x ON x.vec_id = a.vid
               JOIN e y ON y.vec_id = b.vid)
         SELECT cid, cell, nid, cos FROM (
           SELECT cid, cell, nid, cos,
                  row_number() OVER (PARTITION BY cid
                                     ORDER BY cos DESC, nid) AS rn
           FROM p) t WHERE rn <= 5
         ORDER BY cid, nid"""),

    // mirrors x138: centroids trained on the BASE half only (the
    // frozen model the extension assigns into), every vector assigned
    // to them, cell-local top-5 edges — exactly what incremental
    // extension must equal when edges are cell-local
    "x138_knn_index_extend" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         eb AS (SELECT * FROM e WHERE vec_id < 250),
         ${kmeansCtePrefixed(
        "(SELECT least(4096, greatest(8, count(*) // 250)) FROM eb)",
        iters = 3, dim = 64, src = "eb")},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                  round(list_dot_product(x.e, c.ce) /
                        (sqrt(list_dot_product(x.e, x.e)) *
                         sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN cent c),
         asg AS (SELECT vid, cent_id AS cell FROM (
                   SELECT vid, cent_id,
                          row_number() OVER (PARTITION BY vid
                                             ORDER BY ccos DESC, cent_id) AS rn
                   FROM cc) t WHERE rn = 1),
         p AS (SELECT a.vid AS cid, a.cell, b.vid AS nid,
                 round(list_dot_product(x.e, y.e) /
                       (sqrt(list_dot_product(x.e, x.e)) *
                        sqrt(list_dot_product(y.e, y.e))), 6) AS cos
               FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid != b.vid
               JOIN e x ON x.vec_id = a.vid
               JOIN e y ON y.vec_id = b.vid)
         SELECT cid, cell, nid, cos FROM (
           SELECT cid, cell, nid, cos,
                  row_number() OVER (PARTITION BY cid
                                     ORDER BY cos DESC, nid) AS rn
           FROM p) t WHERE rn <= 5
         ORDER BY cid, nid"""),

    // mirrors x144: the production front end (sampled training +
    // two-level assignment, productionAssignCtes — x128's CTEs
    // verbatim) feeding x131's cell-local edge tail — the at-rest
    // production SEED replicated from scratch
    "x144_knn_index_production" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         $productionAssignCtes,
         p AS (SELECT a.vec_id AS cid, a.cell, b.vec_id AS nid,
                 round(list_dot_product(x.e, y.e) /
                       (sqrt(list_dot_product(x.e, x.e)) *
                        sqrt(list_dot_product(y.e, y.e))), 6) AS cos
               FROM s2 a JOIN s2 b ON a.cell = b.cell
                                  AND a.vec_id != b.vec_id
               JOIN e x ON x.vec_id = a.vec_id
               JOIN e y ON y.vec_id = b.vec_id)
         SELECT cid, cell, nid, cos FROM (
           SELECT cid, cell, nid, cos,
                  row_number() OVER (PARTITION BY cid
                                     ORDER BY cos DESC, nid) AS rn
           FROM p) t WHERE rn <= 5
         ORDER BY cid, nid"""),

    // mirrors x145: the production front end (sampled training +
    // two-level assignment) builds the cell membership; the probe side
    // is the standard flat nprobe=2 over the SAMPLED centroids (scent)
    // — exactly topKIvfIndexed against a Production-profile index
    "x145_ivf_index_production" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         $productionAssignCtes,
         probes AS (SELECT vid AS qid, cent_id AS cell FROM (
             SELECT x.vec_id AS vid, c.cent_id,
                    row_number() OVER (PARTITION BY x.vec_id ORDER BY
                      round(list_dot_product(x.e, c.ce) /
                            (sqrt(list_dot_product(x.e, x.e)) *
                             sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
                      c.cent_id) AS rn
             FROM e x CROSS JOIN scent c
             WHERE x.vec_id < 10) t WHERE rn <= 2),
         scored AS (SELECT DISTINCT p.qid, ca.vec_id AS cid,
                           round(list_dot_product(eq.e, ec.e) /
                                 (sqrt(list_dot_product(eq.e, eq.e)) *
                                  sqrt(list_dot_product(ec.e, ec.e))), 6)
                             AS cos
                    FROM probes p
                    JOIN s2 ca ON p.cell = ca.cell
                              AND ca.vec_id != p.qid
                    JOIN e eq ON eq.vec_id = p.qid
                    JOIN e ec ON ec.vec_id = ca.vec_id)
         SELECT qid, rank, cid, cos FROM (
           SELECT qid, cid, cos,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, cid)
                       AS INTEGER) AS rank
           FROM scored) t
         WHERE rank <= 10 ORDER BY qid, rank"""),

    // mirrors x146: the production front end trained on the BASE half
    // (eb), every vector assigned through the two-level route, cell
    // edges — what the incremental production extension must equal
    "x146_knn_index_production_extend" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         eb AS (SELECT * FROM e WHERE vec_id < 250),
         ${productionAssignCtesFrom("eb")},
         p AS (SELECT a.vec_id AS cid, a.cell, b.vec_id AS nid,
                 round(list_dot_product(x.e, y.e) /
                       (sqrt(list_dot_product(x.e, x.e)) *
                        sqrt(list_dot_product(y.e, y.e))), 6) AS cos
               FROM s2 a JOIN s2 b ON a.cell = b.cell
                                  AND a.vec_id != b.vec_id
               JOIN e x ON x.vec_id = a.vec_id
               JOIN e y ON y.vec_id = b.vec_id)
         SELECT cid, cell, nid, cos FROM (
           SELECT cid, cell, nid, cos,
                  row_number() OVER (PARTITION BY cid
                                     ORDER BY cos DESC, nid) AS rn
           FROM p) t WHERE rn <= 5
         ORDER BY cid, nid"""),

    // mirrors x147: BOTH index lifecycles replicated — the exact
    // chain (adaptive-k Lloyd over the corpus, x35's indexed-probe
    // shape) and the production chain (sampled front end, x145's
    // probe shape) — then the per-query overlap@10 join. CTE names
    // are disjoint by prefix: productionAssignCtes owns ranked/samp/
    // s*/g*/s2, the exact chain is unprefixed `cent` + e*-named
    // probe CTEs.
    "x147_production_recall_audit" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         $productionAssignCtes,
         ${kmeansCteSeed(adaptiveCellsSql, iters = 3, dim = 64)},
         ecc AS (SELECT x.vec_id AS vid, c.cent_id,
                   round(list_dot_product(x.e, c.ce) /
                         (sqrt(list_dot_product(x.e, x.e)) *
                          sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                 FROM e x CROSS JOIN cent c),
         eranked AS (SELECT vid, cent_id,
                            row_number() OVER (PARTITION BY vid
                                               ORDER BY ccos DESC,
                                                        cent_id) AS rn
                     FROM ecc),
         ecells AS (SELECT vid AS cid, cent_id AS cell FROM eranked
                    WHERE rn = 1),
         eprobes AS (SELECT vid AS qid, cent_id AS cell FROM eranked
                     WHERE rn <= 2 AND vid >= 100 AND vid < 150),
         escored AS (SELECT DISTINCT p.qid, ca.cid,
                            round(list_dot_product(eq.e, ec.e) /
                                  (sqrt(list_dot_product(eq.e, eq.e)) *
                                   sqrt(list_dot_product(ec.e, ec.e))), 6)
                              AS cos
                     FROM eprobes p
                     JOIN ecells ca ON p.cell = ca.cell
                                   AND ca.cid != p.qid
                     JOIN e eq ON eq.vec_id = p.qid
                     JOIN e ec ON ec.vec_id = ca.cid),
         etop AS (SELECT qid, cid FROM (
             SELECT qid, cid, row_number() OVER (PARTITION BY qid
                                                 ORDER BY cos DESC, cid) AS rank
             FROM escored) t WHERE rank <= 10),
         pprobes AS (SELECT vid AS qid, cent_id AS cell FROM (
             SELECT x.vec_id AS vid, c.cent_id,
                    row_number() OVER (PARTITION BY x.vec_id ORDER BY
                      round(list_dot_product(x.e, c.ce) /
                            (sqrt(list_dot_product(x.e, x.e)) *
                             sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
                      c.cent_id) AS rn
             FROM e x CROSS JOIN scent c
             WHERE x.vec_id >= 100 AND x.vec_id < 150) t WHERE rn <= 2),
         pscored AS (SELECT DISTINCT p.qid, ca.vec_id AS cid,
                            round(list_dot_product(eq.e, ec.e) /
                                  (sqrt(list_dot_product(eq.e, eq.e)) *
                                   sqrt(list_dot_product(ec.e, ec.e))), 6)
                              AS cos
                     FROM pprobes p
                     JOIN s2 ca ON p.cell = ca.cell
                               AND ca.vec_id != p.qid
                     JOIN e eq ON eq.vec_id = p.qid
                     JOIN e ec ON ec.vec_id = ca.vec_id),
         ptop AS (SELECT qid, cid FROM (
             SELECT qid, cid, row_number() OVER (PARTITION BY qid
                                                 ORDER BY cos DESC, cid) AS rank
             FROM pscored) t WHERE rank <= 10),
         bscored AS (
           SELECT a.vec_id AS qid, b.vec_id AS cid,
                  round(list_dot_product(a.e, b.e) /
                        (sqrt(list_dot_product(a.e, a.e)) *
                         sqrt(list_dot_product(b.e, b.e))), 6) AS cos
           FROM e a JOIN e b ON a.vec_id >= 100 AND a.vec_id < 150
                            AND a.vec_id != b.vec_id),
         brute AS (SELECT qid, cid FROM (
             SELECT qid, cid, row_number() OVER (PARTITION BY qid
                                                 ORDER BY cos DESC, cid) AS rank
             FROM bscored) t WHERE rank <= 10)
         SELECT b.qid AS qid,
                count(ex.cid) AS n_hit_exact,
                count(pr.cid) AS n_hit_prod,
                round(count(ex.cid) / 10.0, 6) AS recall_exact,
                round(count(pr.cid) / 10.0, 6) AS recall_prod
         FROM brute b
         LEFT JOIN etop ex ON b.qid = ex.qid AND b.cid = ex.cid
         LEFT JOIN ptop pr ON b.qid = pr.qid AND b.cid = pr.cid
         GROUP BY b.qid ORDER BY b.qid"""),

    // mirrors x148: the hier front end (sampling, first-k init, three
    // coarse-restricted Lloyd passes, two-level corpus assignment)
    // + x144's cell-local top-5 edge tail
    "x148_knn_index_hier" ->
      (s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${hierAssignCtesFrom("e")},
         p AS (SELECT a.vec_id AS cid, a.cell, b.vec_id AS nid,
                 round(list_dot_product(x.e, y.e) /
                       (sqrt(list_dot_product(x.e, x.e)) *
                        sqrt(list_dot_product(y.e, y.e))), 6) AS cos
               FROM s2 a JOIN s2 b ON a.cell = b.cell
                                  AND a.vec_id != b.vec_id
               JOIN e x ON x.vec_id = a.vec_id
               JOIN e y ON y.vec_id = b.vec_id)
         SELECT cid, cell, nid, cos FROM (
           SELECT cid, cell, nid, cos,
                  row_number() OVER (PARTITION BY cid
                                     ORDER BY cos DESC, nid) AS rn
           FROM p) t WHERE rn <= 5
         ORDER BY cid, nid"""),

    // mirrors x149: the hier front end + x145's flat nprobe=2 probe
    // over the trained centroids (scent) and top-10 scoring
    "x149_ivf_index_hier" ->
      (s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${hierAssignCtesFrom("e")},
         probes AS (SELECT vid AS qid, cent_id AS cell FROM (
             SELECT x.vec_id AS vid, c.cent_id,
                    row_number() OVER (PARTITION BY x.vec_id ORDER BY
                      round(list_dot_product(x.e, c.ce) /
                            (sqrt(list_dot_product(x.e, x.e)) *
                             sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
                      c.cent_id) AS rn
             FROM e x CROSS JOIN scent c
             WHERE x.vec_id < 10) t WHERE rn <= 2),
         scored AS (SELECT DISTINCT p.qid, ca.vec_id AS cid,
                           round(list_dot_product(eq.e, ec.e) /
                                 (sqrt(list_dot_product(eq.e, eq.e)) *
                                  sqrt(list_dot_product(ec.e, ec.e))), 6)
                             AS cos
                    FROM probes p
                    JOIN s2 ca ON p.cell = ca.cell
                              AND ca.vec_id != p.qid
                    JOIN e eq ON eq.vec_id = p.qid
                    JOIN e ec ON ec.vec_id = ca.vec_id)
         SELECT qid, rank, cid, cos FROM (
           SELECT qid, cid, cos,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, cid)
                       AS INTEGER) AS rank
           FROM scored) t
         WHERE rank <= 10 ORDER BY qid, rank"""),

    // x150: x149's hier chain with nprobe = adaptiveNprobe(kc, 0.5)
    // instead of the literal 2 — the oracle derives BOTH the cell count
    // and the probe width from the corpus size, mirroring
    // least(kc, greatest(2, ceil(kc * 0.5))) over
    // kc = least(4096, greatest(8, n // 250)).
    "x150_ivf_adaptive_nprobe" ->
      (s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${hierAssignCtesFrom("e")},
         npc AS (SELECT least(kc, greatest(2,
                   CAST(ceil(kc * 0.5) AS INTEGER))) AS np
                 FROM (SELECT least(4096, greatest(8, count(*) // 250))
                         AS kc FROM e)),
         probes AS (SELECT vid AS qid, cent_id AS cell FROM (
             SELECT x.vec_id AS vid, c.cent_id,
                    row_number() OVER (PARTITION BY x.vec_id ORDER BY
                      round(list_dot_product(x.e, c.ce) /
                            (sqrt(list_dot_product(x.e, x.e)) *
                             sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
                      c.cent_id) AS rn
             FROM e x CROSS JOIN scent c
             WHERE x.vec_id < 10) t
           WHERE rn <= (SELECT np FROM npc)),
         scored AS (SELECT DISTINCT p.qid, ca.vec_id AS cid,
                           round(list_dot_product(eq.e, ec.e) /
                                 (sqrt(list_dot_product(eq.e, eq.e)) *
                                  sqrt(list_dot_product(ec.e, ec.e))), 6)
                             AS cos
                    FROM probes p
                    JOIN s2 ca ON p.cell = ca.cell
                              AND ca.vec_id != p.qid
                    JOIN e eq ON eq.vec_id = p.qid
                    JOIN e ec ON ec.vec_id = ca.vec_id)
         SELECT qid, rank, cid, cos FROM (
           SELECT qid, cid, cos,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, cid)
                       AS INTEGER) AS rank
           FROM scored) t
         WHERE rank <= 10 ORDER BY qid, rank""")
  )

  /** x153's oracle, shared with x156 (which wraps it with the policy's
    * decision arithmetic): x139's replicated lifecycle — base-trained
    * Lloyd + union flat-argmax assignment — folded to per-cell loads
    * and the one-row summary the refresh policy reads.
    */
  private lazy val x153DriftStatsSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         eb AS (SELECT * FROM e WHERE vec_id < 250),
         ${kmeansCtePrefixed("8", iters = 3, dim = 64, src = "eb")},
         cc AS (SELECT x.vec_id AS vid, c.cent_id,
                       round(list_dot_product(x.e, c.ce) /
                             (sqrt(list_dot_product(x.e, x.e)) *
                              sqrt(list_dot_product(c.ce, c.ce))), 6)
                         AS ccos
                FROM e x CROSS JOIN cent c),
         ranked AS (SELECT vid, cent_id,
                           row_number() OVER (PARTITION BY vid
                                              ORDER BY ccos DESC,
                                                       cent_id) AS rn
                    FROM cc),
         cells AS (SELECT vid AS cid, cent_id AS cell FROM ranked
                   WHERE rn = 1),
         loads AS (SELECT cell, count(*) AS c FROM cells GROUP BY cell)
         SELECT CAST(count(*) AS INTEGER) AS n_cells,
                CAST(sum(c) AS BIGINT) AS n_rows,
                CAST(max(c) AS BIGINT) AS max_cell,
                round(sum(c)::DOUBLE / count(*), 6) AS mean_cell,
                round(max(c)::DOUBLE / (sum(c)::DOUBLE / count(*)), 6)
                  AS imbalance
         FROM loads"""

  /** x151/x152 pin the round-16 DEFAULTS in the hash-checked gate by
    * construction: the auto-switched build must be bit-identical to
    * the explicit hier build (same trainer, same stamp token), and the
    * defaulted adaptive probe must be bit-identical to the explicit
    * adaptiveNprobe call — so their oracles ARE x149's and x150's.
    * A regression in either resolution (threshold comparison, conf
    * plumbing, fraction derivation) lands them on the sampled trainer
    * or the literal probe width and the hashes split.
    */
  val oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "x151_ivf_hier_autoswitch" ->
      oracleSqlBase("x149_ivf_index_hier"),
    "x152_ivf_adaptive_default" ->
      oracleSqlBase("x150_ivf_adaptive_nprobe"),
    // x153: x139's replicated lifecycle (base-trained Lloyd + union
    // flat-argmax assignment) folded to per-cell loads and the one-row
    // summary the refresh policy reads
    "x153_ivf_drift_stats" -> x153DriftStatsSql,
    // x154 = the kNN-family auto-switch: bit-identical to the explicit
    // hier build, so the oracle IS x148's
    "x154_knn_hier_autoswitch" ->
      oracleSqlBase("x148_knn_index_hier"),
    // x155: x149's hier chain with the MASS-weighted probe — per-cell
    // loads from the same two-level assignment (s2), then each query's
    // probe set is the cosine-descending prefix of LOADED cells whose
    // preceding cumulative mass is under ceil(0.5 · n_rows), never
    // fewer than 2 cells (the floor) — exactly
    // Similarity.topKIvfIndexedMass's window
    "x155_ivf_mass_probe" ->
      (s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${hierAssignCtesFrom("e")},
         loads AS (SELECT cell, count(*) AS m FROM s2 GROUP BY cell),
         tgt AS (SELECT CAST(ceil(sum(m) * 0.5) AS BIGINT) AS t
                 FROM loads),
         qc AS (SELECT x.vec_id AS vid, c.cent_id, l.m,
                  round(list_dot_product(x.e, c.ce) /
                        (sqrt(list_dot_product(x.e, x.e)) *
                         sqrt(list_dot_product(c.ce, c.ce))), 6) AS ccos
                FROM e x CROSS JOIN scent c
                JOIN loads l ON l.cell = c.cent_id
                WHERE x.vec_id < 10),
         probes AS (SELECT vid AS qid, cent_id AS cell FROM (
             SELECT vid, cent_id, m,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY ccos DESC, cent_id)
                      AS rn,
                    sum(m) OVER (PARTITION BY vid
                                 ORDER BY ccos DESC, cent_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
             FROM qc) t
           WHERE rn <= 2 OR cum - m < (SELECT t FROM tgt)),
         scored AS (SELECT DISTINCT p.qid, ca.vec_id AS cid,
                           round(list_dot_product(eq.e, ec.e) /
                                 (sqrt(list_dot_product(eq.e, eq.e)) *
                                  sqrt(list_dot_product(ec.e, ec.e))), 6)
                             AS cos
                    FROM probes p
                    JOIN s2 ca ON p.cell = ca.cell
                              AND ca.vec_id != p.qid
                    JOIN e eq ON eq.vec_id = p.qid
                    JOIN e ec ON ec.vec_id = ca.vec_id)
         SELECT qid, rank, cid, cos FROM (
           SELECT qid, cid, cos,
                  CAST(row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, cid)
                       AS INTEGER) AS rank
           FROM scored) t
         WHERE rank <= 10 ORDER BY qid, rank"""),
    // x156: x153's drift relation + the policy's decision arithmetic
    // as literal columns — threshold 8.0 (refreshImbalanceDefault) and
    // slack 1.25 (FutileSlack) hardcoded HERE so a Scala-side default
    // change splits the hash until this oracle is consciously updated
    "x156_refresh_decision" ->
      (s"""SELECT n_cells, n_rows, max_cell, mean_cell, imbalance,
                CAST(8.0 AS DOUBLE) AS threshold,
                imbalance > 8.0 AS would_refresh,
                CAST(1.25 AS DOUBLE) AS futile_slack,
                round(imbalance * 1.25, 6) AS rearm_bound
         FROM ($x153DriftStatsSql) s"""))

  /** The [[graft.functions.MinHashSig]] seed pairs as a DuckDB VALUES
    * list — the x89 oracle replicates the signature from the SAME
    * literals the codegen expression embeds.
    */
  private def minhashSeedsSql(numHashes: Int): String =
    graft.functions.MinHashSig.seeds(numHashes).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")

  /** [[graft.ext.Sketches.hllConstant]] as a literal (Double.toString
    * round-trips, so both engines parse the identical double).
    */
  private def hllCLit: String =
    graft.ext.Sketches.hllConstant(6).toString

  /** [[graft.ext.Similarity.dcgDiscounts]] as a DuckDB VALUES list of
    * (rank, discount, cumulative-ideal) — the shared 6-dp metric
    * constants of the x91 eval.
    */
  private def dcgLadderSql(k: Int): String =
    Similarity.dcgDiscounts(k).zipWithIndex
      .map { case ((d, c), i) => s"(${i + 1}, ${d}, ${c})" }
      .mkString(", ")

  /** DuckDB replication of [[graft.ext.Similarity.kCenterCoreset]]:
    * `k−1` unrolled greedy steps — each picks argmin of the running
    * max-6-dp-cosine (tie: lowest vec_id) and folds the winner into the
    * running max via `greatest` — then stitches the selection order
    * back together. Same 6-dp quantization as the Spark side, so the
    * argmin comparisons see identical doubles.
    */
  private def kCenterSql(k: Int): String = {
    val steps = (2 to k).map { i =>
      val prev = if (i == 2) "m1" else s"m${i - 1}"
      val fold =
        if (i == k) "" // the last winner needs no updated relation
        else s""",
         m$i AS (SELECT x.vec_id, x.e, x.nrm,
                   greatest(x.mc, round(list_dot_product(x.e, s.e)
                     / (x.nrm * s.nrm), 6)) AS mc
                 FROM $prev x, s$i s WHERE x.vec_id != s.vec_id)"""
      s"""s$i AS (SELECT vec_id, e, nrm, mc FROM $prev
                 ORDER BY mc ASC, vec_id LIMIT 1)$fold"""
    }.mkString(",\n         ")
    val out = (2 to k)
      .map(i => s"UNION ALL SELECT $i, vec_id, mc FROM s$i")
      .mkString("\n         ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
               FROM e),
         s1 AS (SELECT vec_id, e, nrm FROM n ORDER BY vec_id LIMIT 1),
         m1 AS (SELECT x.vec_id, x.e, x.nrm,
                  round(list_dot_product(x.e, s.e) / (x.nrm * s.nrm), 6)
                    AS mc
                FROM n x, s1 s WHERE x.vec_id != s.vec_id),
         $steps
         SELECT * FROM (
           SELECT 1 AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS cov_cos
           FROM s1
           $out)
         ORDER BY sel_rank"""
  }

  /** DuckDB replication of [[graft.ext.Similarity.pcaTopComponent]] —
    * the unrolled power iterations (fixed plan-time constants on both
    * sides): 1e-6-quantized BIGINT mean sums, ordered list_dot_product
    * folds for the per-row projections (≡ dotHof), 6-dp addends summed
    * as DECIMAL(38,12) for the per-dim accumulations, 6-dp re-normalized
    * v per pass, λ₁ = vᵀg/n with the v that produced the final g.
    */
  private def pcaSql(dim: Int, iters: Int): String = {
    val steps = (0 until iters).map { i =>
      s"""c$i AS (SELECT em, list_dot_product(em, (SELECT v FROM v$i)) AS c
              FROM em),
       t$i AS (SELECT d, CAST(sum(CAST(round(c * em[d], 6)
                  AS DECIMAL(38,12))) AS DOUBLE) AS g
               FROM c$i, ds GROUP BY d),
       g$i AS (SELECT list(g ORDER BY d) AS gv FROM t$i),
       v${i + 1} AS (SELECT list_transform(gv,
                     x -> round(x / sqrt(list_dot_product(gv, gv)), 6)) AS v
                   FROM g$i)"""
    }.mkString(",\n       ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       n AS (SELECT count(*)::DOUBLE AS n FROM e),
       ds AS (SELECT unnest(generate_series(1, $dim)) AS d),
       msum AS (SELECT d, sum(CAST(round(e[d] * 1000000.0) AS BIGINT)) AS s
                FROM e, ds GROUP BY d),
       mu AS (SELECT list(CAST(s AS DOUBLE) / (SELECT n FROM n) / 1000000.0
                          ORDER BY d) AS mu FROM msum),
       em AS (SELECT vec_id,
                [e[k] - m.mu[k] for k in generate_series(1, $dim)] AS em
              FROM e CROSS JOIN mu m),
       v0 AS (SELECT list_transform(generate_series(1, $dim), x -> 1.0)
                AS v),
       $steps
       SELECT CAST(d AS INTEGER) AS d,
              (SELECT v FROM v$iters)[d] AS loading,
              round(list_dot_product((SELECT gv FROM g${iters - 1}),
                    (SELECT v FROM v${iters - 1})) / (SELECT n FROM n), 6)
                AS eigval
       FROM ds ORDER BY d"""
  }

  /** DuckDB replication of [[graft.ext.Selection.linearProbe]]: `iters`
    * unrolled GD steps (w0 = zeros; fixed plan-time constants on both
    * sides), then the final scoring pass.
    */
  private def linearProbeSql(dim: Int, iters: Int, lr: String): String = {
    val steps = (0 until iters).map { i =>
      s"""m$i AS (SELECT vec_id, e, y,
                    list_dot_product(e, (SELECT wv FROM w$i)) AS m FROM e),
         g$i AS (SELECT d, CAST(sum(CAST(round((m - y) * e[d], 6)
                    AS DECIMAL(38,12))) AS DOUBLE) AS g
                 FROM m$i, ds GROUP BY d),
         w${i + 1} AS (SELECT list(round((SELECT wv FROM w$i)[d] - $lr * (g / n), 6)
                         ORDER BY d) AS wv FROM g$i, n)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
           FROM embeddings),
         n AS (SELECT count(*)::DOUBLE AS n FROM e),
         ds AS (SELECT unnest(generate_series(1, $dim)) AS d),
         w0 AS (SELECT list_transform(generate_series(1, $dim), x -> 0.0) AS wv),
         $steps
         SELECT vec_id, CAST(y AS INTEGER) AS label_target,
                round(list_dot_product(e, (SELECT wv FROM w$iters)), 6) AS score
         FROM e ORDER BY vec_id"""
  }

  /** BM25 scoring CTE chain shared by the x51/x52 oracles — the exact
    * IEEE operation order [[graft.ext.Retrieval.bm25]] executes, with
    * every fractional literal cast to DOUBLE (bare decimals in DuckDB
    * are DECIMAL-typed and would divide at decimal precision). k1=1.2,
    * b=0.75, terms = [[RetrievalTerms]]; per-term scores rounded to 6
    * dp, then summed exactly as DECIMAL(38,12).
    */
  private lazy val bm25Cte: String = {
    val termList = RetrievalTerms.map(t => s"'$t'").mkString(", ")
    s"""d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
              FROM documents),
         stats AS (SELECT count(*) AS n_docs, sum(len(ws)) AS sum_dl FROM d),
         toks AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS word FROM d),
         tf AS (SELECT doc_id, word, count(*) AS tf, max(dl) AS dl
                FROM toks WHERE word IN ($termList) GROUP BY doc_id, word),
         dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         ts AS (SELECT tf.doc_id,
                  round(ln((1.0::DOUBLE) +
                          ((n_docs - df) + (0.5::DOUBLE)) /
                          (df + (0.5::DOUBLE))) *
                        (tf * ((1.2::DOUBLE) + (1.0::DOUBLE))) /
                        (tf + (1.2::DOUBLE) *
                          ((1.0::DOUBLE) - (0.75::DOUBLE) +
                           (0.75::DOUBLE) * dl /
                           (sum_dl::DOUBLE / n_docs))), 6) AS s
                FROM tf JOIN dfq USING (word) CROSS JOIN stats),
         sc AS (SELECT doc_id,
                       round(sum(CAST(s AS DECIMAL(38,12)))::DOUBLE, 6) AS score
                FROM ts GROUP BY doc_id)"""
  }
}
