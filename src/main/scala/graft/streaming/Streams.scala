package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.engine.{AtRest, Tables}
import graft.ext.{Dedup, Similarity}
import graft.fhir.{BundleIngest, ParquetSink, Schemas}

/** Structured-Streaming variants (SURVEY §7.4-7 — extension; the reference
  * is strictly batch).
  *
  * The ingest plan is streamable as-is: T1–T6 are per-row expressions, so
  * `readStream` swaps in for `read` and the multi-sink fan-out moves into
  * `foreachBatch`. Rollups become windowed aggregations with watermarks;
  * custom session state uses `flatMapGroupsWithState` (the engine's
  * mapGroupsWithState surface).
  */
object Streams {

  // ---- streaming FHIR ingest -------------------------------------------

  /** File-source streaming bundle ingest: new bundle files are discovered,
    * rewritten, and fanned out to the partitioned resource sink — the
    * incremental version of the reference's one-shot walk (main.go:111).
    */
  def bundleStream(spark: SparkSession, path: String): DataFrame =
    BundleIngest.rewriteBundle(BundleIngest.parsed(
      spark.readStream.schema(Schemas.bundle)
        .options(BundleIngest.ReadOptions).json(path)))

  /** Each micro-batch goes through the batch job's resource sink, so it
    * gets the same rebalanced, few-files-per-collection layout.
    */
  def ingestStream(spark: SparkSession, path: String, outDir: String,
      checkpoint: String): StreamingQuery =
    bundleStream(spark, path).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        new ParquetSink(outDir).writeResources(
          BundleIngest.routeResources(batch))
      }
      .start()

  /** Streaming rawstat: the reference's per-patient pre-aggregate
    * (SURVEY §3.2) computed incrementally. One bundle = one patient, so
    * the rawstat build is batch-independent — each micro-batch appends
    * its patients' rows with NO cross-batch state, watermark, or
    * re-aggregation. The fact rollups then run over the growing rawstat
    * table exactly as in batch mode (FactJobs), which is the
    * pre-aggregate's whole point in the reference too. The dims are
    * collected into their lookup maps once, when the stream starts.
    */
  def rawstatStream(spark: SparkSession, path: String,
      cousubDim: DataFrame, diseaseDim: DataFrame, asOf: String,
      outDir: String, checkpoint: String): StreamingQuery = {
    val dims = graft.fhir.RawStats.Dims.collect(cousubDim, diseaseDim)
    bundleStream(spark, path).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.fhir.RawStats
          .build(batch, dims, lit(asOf).cast("date"))
          .write.mode("append").parquet(s"$outDir/rawstat")
      }
      .start()
  }

  // ---- events table as a stream ----------------------------------------

  /** The testdata `events` parquet as a file-source stream. A streaming
    * schema must be explicit, so probe the batch footer for the on-disk `ts`
    * type (nanos-as-long vs TIMESTAMP_NTZ — the generator has produced both)
    * and apply the same normalization as [[Tables]].
    */
  def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.parquetSchema(spark, s"$dir/events.parquet")
    // file-source streaming needs a directory; point at the sf dir and
    // glob-filter down to the events file(s)
    Tables.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .option("pathGlobFilter", "events*.parquet")
        .parquet(dir))
  }

  // ---- windowed event aggregation --------------------------------------

  /** Watermarked tumbling-window counts over the events stream. Late rows
    * beyond the watermark are dropped and window state is reclaimed — the
    * property that keeps state bounded at 100 TB/day event volumes.
    */
  def windowedEventCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  // ---- streaming dedup --------------------------------------------------

  /** At-ingest exact dedup on the event id: duplicates arriving within
    * the watermark horizon are dropped and the id state is reclaimed once
    * the watermark passes — the streaming analogue of
    * [[graft.ext.Dedup.exact]], with state bounded by (arrival rate ×
    * watermark) instead of corpus size. This is the dedup a 100 TB/day
    * event firehose actually needs: at-least-once sources (Kafka, file
    * redelivery) produce near-in-time duplicates, which is exactly the
    * horizon the watermark bounds.
    */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  // ---- streaming decontamination ----------------------------------------

  /** Map-side streaming decontamination: flag arriving documents whose
    * word n-grams hit a Bloom sketch of the (bounded, batch-built) eval
    * set — the streaming face of [[graft.ext.Contamination]]. The sketch
    * is closed over as a plan literal, so this is STATELESS: no state
    * store, no stream-stream join, no watermark; each micro-batch (or a
    * plain batch frame — the plan is mode-agnostic) filters at full scan
    * speed. `might_hit = true` carries the Bloom false-positive rate;
    * quarantine-then-exact-join downstream when exactness matters
    * (false NEGATIVES cannot occur — [[graft.functions.BloomMightContain]]
    * shares the build's hash contract).
    */
  def decontaminateStream(docs: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      n: Int = 5): DataFrame = {
    import graft.ext.TextAnalysis.{shinglesFromTokens, tokens}
    docs
      .withColumn("ws", tokens(col("text")))
      .withColumn("might_hit",
        exists(shinglesFromTokens(col("ws"), n),
          sh => graft.functions.BloomMightContain.bloom_might_contain(
            sh, bloom)))
      .drop("ws")
  }

  /** Streaming per-doc novelty: the streaming face of x70
    * ([[graft.ext.Dedup.noveltyRate]]) — estimate, per ARRIVING document,
    * what fraction of its distinct word shingles the base corpus already
    * holds, against a batch-built Bloom sketch of the base's shingles
    * closed over as a plan literal. STATELESS like
    * [[decontaminateStream]]: no state store, no stream-stream join;
    * each micro-batch maps at scan speed, and the plan is mode-agnostic
    * (a plain batch frame runs it too).
    *
    * Estimate contract: Bloom false positives can only RAISE
    * `dup_rate_est` (a truly-novel shingle may test positive; a held
    * shingle never tests negative), so the estimate is one-sided —
    * ingest-time routing can safely drop high-estimate docs knowing the
    * true rate is ≤ the estimate, and the nightly batch x70 run refines
    * the survivors exactly. Docs with fewer than `n` tokens carry no
    * shingle evidence and pass through with zero counts.
    */
  def noveltyStream(docs: DataFrame,
      baseBloom: org.apache.spark.util.sketch.BloomFilter,
      n: Int = 3): DataFrame = {
    import graft.ext.TextAnalysis.{shinglesFromTokens, tokens}
    docs
      .withColumn("ws", tokens(col("text")))
      .withColumn("sg", shinglesFromTokens(col("ws"), n))
      .withColumn("n_shingles", size(col("sg")).cast("long"))
      .withColumn("n_seen_est",
        size(filter(col("sg"),
          sh => graft.functions.BloomMightContain.bloom_might_contain(
            sh, baseBloom))).cast("long"))
      .withColumn("dup_rate_est",
        when(col("n_shingles") > 0,
          round(col("n_seen_est").cast("double") / col("n_shingles"), 6))
          .otherwise(lit(0.0)))
      .drop("ws", "sg")
  }

  /** Streaming admission: the STATELESS gates of the x60 batch composite
    * applied at ingest time — per-row quality (the Gopher thresholds,
    * with the repetition ratio computed in-row over the doc's own bigram
    * array instead of the batch path's per-doc groupBy), the exact-dup
    * probe against the static base fingerprint set (broadcast
    * stream-static left join, stateless), and Bloom decontamination
    * against the eval sketch (might-contain: false positives possible,
    * false negatives never). The fuzzy near-dup gate is deliberately
    * absent: its candidate aggregation is a streaming AGGREGATION
    * (state), so it belongs to the nightly batch x60 run — the stream
    * decides what it can decide per row, the batch finishes the job.
    *
    * The in-row repetition ratio is O(distinct-bigrams × bigrams) per
    * document — doc-length-bounded, independent of corpus size, and it
    * computes the identical ratio the batch groupBy produces.
    */
  def admissionStream(docs: DataFrame, baseFps: DataFrame,
      evalBloom: org.apache.spark.util.sketch.BloomFilter,
      contamN: Int = 5): DataFrame = {
    import graft.ext.TextAnalysis._
    docs
      .withColumn("ws", tokens(col("text")))
      .withColumn("bgs", bigrams(col("ws")))
      .withColumn("mbr", when(size(col("bgs")) === 0, lit(0.0)).otherwise(
        round(array_max(transform(array_distinct(col("bgs")), b =>
          size(filter(col("bgs"), x => x === b)).cast("double"))) /
          size(col("bgs")), 6)))
      .withColumn("keep_quality",
        meanWordLen(col("ws")) >= 3 && meanWordLen(col("ws")) <= 10 &&
          symbolRatio(col("text")) <= 0.1 && col("mbr") <= 0.2)
      .withColumn("fp", fingerprint(col("text")))
      .join(broadcast(baseFps.select(col("fp"), lit(1).as("seen"))),
        Seq("fp"), "left")
      .withColumn("dup_exact", col("seen").isNotNull)
      .withColumn("might_contaminated",
        exists(shinglesFromTokens(col("ws"), contamN),
          sh => graft.functions.BloomMightContain.bloom_might_contain(
            sh, evalBloom)))
      .withColumn("admit_stream", col("keep_quality") &&
        !col("dup_exact") && !col("might_contaminated"))
      .select(col("doc_id"), col("keep_quality"), col("dup_exact"),
        col("might_contaminated"), col("admit_stream"))
  }

  // ---- streaming similarity search --------------------------------------

  /** Streaming ANN: arriving query vectors scored against a STATIC
    * corpus through the hyperplane-LSH bucket equi-join (x11's shape —
    * the static side is pruned to each query's bucket and broadcast, so
    * a query never scans the corpus), then ranked per query by the
    * bounded-heap [[graft.functions.TopKAgg]] inside a watermarked
    * tumbling window. ONE stateful aggregation; state is a k-heap per
    * (window, query), reclaimed at the watermark — the shape that holds
    * at firehose query rates. The plan is mode-agnostic: on a batch
    * frame the same call produces the batch answer (the StreamingSpec
    * agreement gate).
    */
  def annStream(queries: DataFrame, corpus: DataFrame, k: Int = 10,
      dim: Int = 64, nbits: Int = 4, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    import graft.ext.Similarity
    val c = corpus.select(col("vec_id").as("cid"),
      col("embedding").as("ce"),
      Similarity.norm(col("embedding")).as("cn"),
      Similarity.hyperplaneBucket(col("embedding"), dim, nbits)
        .as("bucket"))
    val q = queries.withWatermark("ts", watermark)
      .select(col("ts"), col("vec_id").as("qid"),
        col("embedding").as("qe"),
        Similarity.norm(col("embedding")).as("qn"),
        Similarity.hyperplaneBucket(col("embedding"), dim, nbits)
          .as("bucket"))
    val topk = udaf(new graft.functions.TopKAgg(k))
    q.join(broadcast(c), Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", round(
        Similarity.dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
      .groupBy(window(col("ts"), windowLen), col("qid"))
      .agg(topk(col("cos"), col("cid")).as("nn"))
      .select(col("window.start").as("win_start"), col("qid"),
        posexplode(col("nn")).as(Seq("pos", "s")))
      .select(col("win_start"), col("qid"),
        (col("pos") + 1).cast("int").as("rank"),
        col("s._2").as("cid"), col("s._1").as("cos"))
  }

  // ---- stream-static enrichment -----------------------------------------

  /** Stream-static dimension join: each micro-batch joins against the
    * (bounded) static dim with a forced broadcast — stateless, no
    * watermark needed, the static side re-resolves per batch. The
    * streaming mirror of the rawstat path's T9/T11 dim joins.
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String,
      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty)
      : DataFrame = {
    val joined = events.join(broadcast(dim),
      events(eventKey) === dim(dimKey), "left")
    defaults.foldLeft(joined) { case (df, (c, d)) =>
      df.withColumn(c, coalesce(col(c), d))
    }
  }

  // ---- stateful sessionization -----------------------------------------

  case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionState(
      start: Long, last: Long, n: Long, total: Double)

  case class SessionOut(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  /** Gap-based sessionization with `flatMapGroupsWithState`: a session
    * closes when no event arrives for `gapMs` of event time (enforced by
    * event-time timeout against the watermark). State per user is O(1).
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(SessionOut(userId, new Timestamp(s.start),
          new Timestamp(s.last), s.n, s.total))
      } else {
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[SessionOut]
        var cur = state.getOption
        for (e <- sorted) {
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last <= gapMs =>
              cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1,
                total = s.total + e.value))
            case Some(s) =>
              closed ::= SessionOut(userId, new Timestamp(s.start),
                new Timestamp(s.last), s.n, s.total)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapMs)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", watermark) // required by EventTimeTimeout
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  // ---- streaming at-rest index maintenance ------------------------------

  /** One at-rest index a maintenance stream keeps fresh: a
    * [[graft.engine.AtRest.Family]] at `path` whose accreting relations
    * self-compact past `budget` files after every extension (each
    * micro-batch appends a file set, so a long-lived stream would
    * otherwise accrete tiny files without bound; the no-op pre-check is
    * one listStatus per batch). `around` is a family's own step policy
    * wrapped around its extension — IVF's retrain adoption and refresh;
    * by default it just runs the extension.
    */
  private[graft] final case class Maintained(family: AtRest.Family[_],
      path: String, budget: Int,
      around: (DataFrame, DataFrame, Option[DataFrame], () => Unit) => Unit =
        (_, _, _, extend) => extend()) {

    def ensure(corpus: DataFrame): Unit = {
      AtRest.ensure(family, corpus, path, force = false); ()
    }

    def extend(base: DataFrame, batch: DataFrame,
        union: Option[DataFrame]): Unit =
      around(base, batch, union, () => {
        AtRest.extend(family, base, batch, path, union)
        AtRest.compact(family.layout, base.sparkSession, path, budget); ()
      })

    def restamp(oldCorpus: DataFrame, newCorpus: DataFrame): Boolean =
      AtRest.restamp(family.layout, oldCorpus.sparkSession, path)(
        Similarity.corpusPrefixRewrite(oldCorpus, newCorpus))
  }

  /** Keep the at-rest LSH dedup index (x137's artifact) FRESH as a
    * document stream lands — the daily-crawl loop collapsed to a
    * micro-batch cadence: each batch is persisted under
    * `corpusDir/b<id>` (stable files, so the index stamps can
    * fingerprint them), then either seeds the index
    * ([[graft.ext.Dedup.ensureDedupIndexLsh]]) or extends it
    * ([[graft.ext.Dedup.extendDedupIndexLsh]] — banded-key probe, work
    * ∝ the batch). Landed-dir lineage and restart semantics are
    * [[indexMaintenanceBatch]]'s.
    */
  def dedupIndexStream(docs: DataFrame, corpusDir: String,
      indexPath: String, checkpoint: String,
      dfSidecar: Boolean = true): StreamingQuery =
    indexMaintenanceStream(docs, corpusDir, checkpoint,
      dedupIndexes(indexPath, dfSidecar))

  /** The dedup face's indexes: the LSH key index plus — when
    * `dfSidecar` (the default) — the corpus shingle-df sidecar
    * (`_dfindex`, underscore-named so parquet directory reads of the
    * index skip it) maintained in the same step. The sidecar is the
    * x141 containment probe's relation
    * ([[graft.ext.Dedup.readShingleDf]]); keeping it extended per
    * micro-batch (an append of the batch's own partial counts — never
    * a base re-scan) means an auto-switch probe over the streamed
    * corpus reads it at rest instead of re-shingling everything
    * landed. MEASURED PRICE (SCALE.md round 14):
    * ~0.5–1.2 s per micro-batch — the batch's own df aggregate plus
    * stamp bookkeeping, flat in landed-corpus size; one containment
    * probe over a 500 k-doc landed corpus repays ~10 such batches, so
    * keep it on when auto probes run against the stream's corpus and
    * switch it off for pure dedup pipelines.
    */
  private def dedupIndexes(indexPath: String, dfSidecar: Boolean,
      dfMaxShards: Int = DfSidecarMaxShards,
      bandMaxShards: Int = BandMaxShards): Seq[Maintained] =
    Maintained(Dedup.dedupLshFamily(), indexPath, bandMaxShards) +:
      (if (!dfSidecar) Nil
       else Seq(Maintained(Dedup.dfFamily(), s"$indexPath/_dfindex",
         dfMaxShards)))

  /** Shard-file budget before the streaming df sidecar self-compacts:
    * each micro-batch appends up to `shuffle.partitions` part files,
    * so 256 ≈ a compaction every ~10–30 batches locally — rare enough
    * to amortize, frequent enough that readers never aggregate
    * thousands of shards.
    */
  private[graft] val DfSidecarMaxShards = 256

  /** Separate knobs for the OTHER accreting flat relations (the LSH
    * bands index and the CDC chunk relation): they share the df
    * sidecar's default cadence, but each is semantically its own
    * budget — overloading `dfMaxShards` for all three meant tuning the
    * sidecar silently changed LSH/CDC compaction cadence too.
    */
  private[graft] val BandMaxShards = DfSidecarMaxShards
  private[graft] val ChunkMaxShards = DfSidecarMaxShards

  /** Per-cell parquet-file budget before the streaming kNN/IVF faces
    * self-compact their accreting member relations: each micro-batch
    * appends ~one file set per TOUCHED cell, so 32 ≈ a hot cell
    * compacts every ~32 batches it appears in — and only over-budget
    * cells are ever rewritten, so the sweep's work tracks the hot-cell
    * mass, not the index size.
    */
  private[graft] val CellFileBudget = 32

  /** One [[dedupIndexStream]] maintenance step (see
    * [[indexMaintenanceBatch]]). Returns the updated landed list.
    */
  private[graft] def dedupIndexBatch(
      spark: org.apache.spark.sql.SparkSession, corpusDir: String,
      newDir: String, prev: Option[Vector[String]],
      indexPath: String,
      dfSidecar: Boolean = true,
      dfMaxShards: Int = DfSidecarMaxShards,
      bandMaxShards: Int = BandMaxShards,
      maxLandedDirs: Int = LandedDirBudget): Vector[String] =
    indexMaintenanceBatch(spark, corpusDir, newDir, prev,
      dedupIndexes(indexPath, dfSidecar, dfMaxShards, bandMaxShards),
      maxLandedDirs = maxLandedDirs)

  /** [[dedupIndexStream]]'s discipline applied to the at-rest kNN
    * index (x131/x138's artifact): each embedding micro-batch lands
    * under `corpusDir/b<id>`, the first batch of a (re)started query
    * seeds [[graft.ext.Similarity.ensureKnnIndex]] over EVERY landed
    * batch dir, and later batches run
    * [[graft.ext.Similarity.extendKnnIndex]] — the batch assigned
    * against the FROZEN base centroids, only touched cells' edges
    * recomputed, so per-batch work is ∝ batch + touched-cell mass,
    * never a re-train. Model refresh stays an OFFLINE decision (an
    * ensure over the union re-trains — the x138 discipline), exactly
    * the standard IVF maintenance trade.
    */
  def knnIndexStream(emb: DataFrame, corpusDir: String,
      indexPath: String, checkpoint: String, k: Int = 5,
      perCell: Int = 250,
      profile: graft.ext.IndexProfile = graft.ext.IndexProfile.Production())
      : StreamingQuery =
    indexMaintenanceStream(emb, corpusDir, checkpoint,
      Seq(Maintained(Similarity.knnFamily(k, perCell, profile), indexPath,
        CellFileBudget)))

  /** [[indexMaintenanceBatch]] for the kNN family — the
    * incremental-resume property matters MOST here: a restarted
    * stream that re-ensured over the landed corpus would re-train the
    * whole model (the training elephant), where extending from the
    * landed prefix keeps the frozen at-rest centroids and pays only
    * the batch's touched-cell recompute.
    */
  private[graft] def knnIndexBatch(
      spark: org.apache.spark.sql.SparkSession, corpusDir: String,
      newDir: String, prev: Option[Vector[String]], indexPath: String,
      k: Int, perCell: Int = 250,
      profile: graft.ext.IndexProfile = graft.ext.IndexProfile.Production(),
      cellFileBudget: Int = CellFileBudget,
      maxLandedDirs: Int = LandedDirBudget)
      : Vector[String] =
    indexMaintenanceBatch(spark, corpusDir, newDir, prev,
      Seq(Maintained(Similarity.knnFamily(k, perCell, profile), indexPath,
        cellFileBudget)),
      maxLandedDirs = maxLandedDirs)

  /** The IVF corpus artifact's streaming face (x44/x139): each
    * embedding micro-batch lands under `corpusDir/b<id>`, the first
    * batch of a (re)started query seeds
    * [[graft.ext.Similarity.ensureIvfIndex]] over every landed dir, and
    * later batches run [[graft.ext.Similarity.extendIvfIndex]] — the
    * batch assigned against the FROZEN centroids and APPENDED into its
    * `cell=` partitions; old rows never move, so this is the lightest
    * of the maintenance loops (no derived edges to recompute). Its
    * step policy ([[ivfPolicy]]) adopts finished background retrains
    * and re-trains a drifted model.
    */
  def ivfIndexStream(emb: DataFrame, corpusDir: String,
      indexPath: String, checkpoint: String, nCentroids: Int = 8,
      iters: Int = 3,
      profile: graft.ext.IndexProfile = graft.ext.IndexProfile.Production())
      : StreamingQuery =
    indexMaintenanceStream(emb, corpusDir, checkpoint,
      Seq(ivfMaintained(indexPath, nCentroids, iters, profile)))

  private def ivfMaintained(indexPath: String, nCentroids: Int,
      iters: Int, profile: graft.ext.IndexProfile,
      cellFileBudget: Int = CellFileBudget,
      refreshImbalance: Option[Double] =
        Some(Similarity.refreshImbalanceDefault),
      refreshAsync: Boolean = true): Maintained =
    Maintained(Similarity.ivfFamily(nCentroids, iters, profile), indexPath,
      cellFileBudget, ivfPolicy(indexPath, nCentroids, iters, profile,
        refreshImbalance, refreshAsync))

  /** The IVF face's step policy around each extension. A background
    * retrain that finished since the last step is adopted FIRST, so
    * this batch extends the fresh model; its futility bookkeeping reads
    * the same threshold as the breach check after the extension.
    */
  private def ivfPolicy(indexPath: String, nCentroids: Int,
      iters: Int, profile: graft.ext.IndexProfile,
      refreshImbalance: Option[Double], refreshAsync: Boolean)
      : (DataFrame, DataFrame, Option[DataFrame], () => Unit) => Unit =
    (base, batch, union, extend) => {
      val spark = base.sparkSession
      adoptIvfRetrain(spark, indexPath, rootDirs(base), nCentroids,
        iters, profile, refreshImbalance)
      extend()
      // refresh policy (DEFAULT-ON since round 17 at the measured
      // threshold — Similarity.refreshImbalanceDefault's scaladoc
      // carries the recall-vs-cost curve): once extensions have
      // drifted the cell loads past the threshold (frozen model,
      // moving corpus), the step RE-TRAINS over the landed union —
      // the ensure's model term differs from the frozen one, so this
      // is exactly the documented ensure-over-union route, now
      // policy-driven instead of manual. Since round 18 the retrain
      // runs ASYNC by default (serve frozen, swap on completion);
      // `refreshAsync = false` selects the sync route. The stats scan
      // reads only the cell partition column (footer-bound at any
      // index size); `refreshImbalance = None` pins the frozen-forever
      // behavior.
      refreshImbalance.foreach { t =>
          val log = org.slf4j.LoggerFactory.getLogger(getClass)
          val imb = graft.ext.Similarity
            .ivfCellLoadStats(spark, indexPath)
            .select(org.apache.spark.sql.functions.col("imbalance"))
            .head().getDouble(0)
          if (imb <= t) {
            // healthy — also re-arm a tripped futility marker, so a
            // corpus that later becomes fixable (mass deleted, shape
            // changed) gets the policy back. An in-flight retrain is
            // left to finish; adoption is cheap and a healthy reading
            // here is usually the retrain's own announcement arriving
            if (!retrainInFlight(indexPath))
              clearRefreshFutile(spark, indexPath)
          } else refreshFutileLevel(spark, indexPath) match {
            case Some(f) if imb <= f * FutileSlack =>
              // a prior policy retrain ALREADY left the index at
              // imbalance f: the skew is intrinsic to the corpus
              // shape, not drift, and retraining over the growing
              // union every batch would be an unbounded cost
              // amplifier — skip until the imbalance grows materially
              // PAST the proven-futile level (new drift on the shape)
              log.info(s"IVF index $indexPath imbalance $imb > $t " +
                s"but a policy retrain already bottomed out at $f — " +
                "intrinsic shape, skipping retrain")
            case _ if retrainInFlight(indexPath) =>
              log.info(s"IVF index $indexPath imbalance $imb > $t — " +
                "a background retrain is already in flight; serving " +
                "the frozen model until it lands")
            case _ =>
              val u = union.getOrElse(base.unionByName(batch))
              val snapshotDirs =
                if (refreshAsync) rootDirs(u) else Vector.empty
              if (refreshAsync && snapshotDirs.nonEmpty) {
                log.info(s"IVF index $indexPath imbalance $imb > $t — " +
                  "launching a background retrain over the landed " +
                  s"union (${snapshotDirs.size} dirs); extensions " +
                  "continue on the frozen model meanwhile")
                launchIvfRetrain(spark, indexPath, u, snapshotDirs,
                  nCentroids, iters, profile)
              } else {
                // sync route: pinned by the caller, or the union plan's
                // dirs are unrecoverable (non-file corpus) so the
                // catch-up protocol can't run
                log.info(s"IVF index $indexPath imbalance $imb > $t — " +
                  "re-training over the landed union (synchronous)")
                graft.ext.Similarity.ensureIvfIndex(u, indexPath,
                  nCentroids, iters, profile = profile)
                val after = graft.ext.Similarity
                  .ivfCellLoadStats(spark, indexPath)
                  .select(
                    org.apache.spark.sql.functions.col("imbalance"))
                  .head().getDouble(0)
                if (after > t) {
                  log.warn(s"IVF index $indexPath still at imbalance " +
                    s"$after > $t AFTER retraining — recording the " +
                    "futile level; the policy stands down until the " +
                    "imbalance grows past it")
                  recordRefreshFutile(spark, indexPath, after)
                } else clearRefreshFutile(spark, indexPath)
              }
          }
        }
    }

  /** How far past a proven-futile imbalance the load must grow before
    * the refresh policy re-attempts a retrain (new drift stacked on an
    * intrinsically skewed shape, vs the shape itself).
    */
  private[graft] val FutileSlack = 1.25

  // ---- async model refresh (round-18 verdict #2) -----------------------
  //
  // The policy retrain used to run SYNCHRONOUSLY inside the maintenance
  // step: an ensure-over-union whose cost grows with the landed corpus
  // executed inside one micro-batch trigger — batch 24 of the SCALE.md
  // round-17 steady-state run measured an 1,100.9 s stall at 160 k
  // rows, and at real scale that is an hours-long stream outage. The async protocol serves FROZEN while
  // retraining: the breach launches the ensure on a background thread
  // against a SIDE path (`<indexPath>_retrain`) over a snapshot of the
  // landed union (b-dirs are immutable once written, so the snapshot
  // plan is stable); every subsequent batch keeps extending the live
  // index on the frozen model; the first maintenance step that finds
  // the retrain COMPLETE catches the side index up with the batches
  // landed since the snapshot (plain extends — the same incremental
  // route the live index rides) and swaps it into place with two
  // directory renames. All LIVE-index mutations stay on the single
  // maintenance thread (the corpus-owner protocol guarantees one
  // stream per corpus), so the swap needs no extra lock; the renames
  // are O(1) metadata ops on HDFS-class stores (an object store pays
  // its usual copy-rename, the same trade every swap-based layout
  // makes there). Crash windows: a crash before the swap leaves the
  // live index untouched and an orphaned side dir the next launch
  // overwrite-ensures; a crash between the two renames leaves no live
  // index, which the next (re)start's seed ensure rebuilds — never
  // corrupt, at worst a rebuild. The maintenance step's
  // `refreshAsync = false` pins the pre-r18 synchronous in-batch
  // retrain (the threshold default's cost/recall curve, SCALE.md round
  // 17, was measured on the sync route).

  private final case class IvfRetrain(thread: Thread,
      snapshot: Vector[String], sidePath: String,
      failure: java.util.concurrent.atomic.AtomicReference[Throwable])

  private val ivfRetrains =
    new java.util.concurrent.ConcurrentHashMap[String, IvfRetrain]()

  private[graft] def retrainInFlight(indexPath: String): Boolean =
    Option(ivfRetrains.get(indexPath)).exists(_.thread.isAlive)

  /** Test/probe hook: block until an in-flight retrain for `indexPath`
    * finishes (or the timeout); true when none is running afterwards.
    * Adoption still happens on the NEXT maintenance step — this only
    * waits out the background ensure.
    */
  private[graft] def awaitIvfRetrain(indexPath: String,
      timeoutMs: Long = 600000L): Boolean =
    Option(ivfRetrains.get(indexPath)).forall { j =>
      j.thread.join(timeoutMs); !j.thread.isAlive
    }

  /** The root directories of a flat multi-dir parquet read — how the
    * refresh protocol recovers the landed-dir list from the DataFrames
    * the maintenance closure is handed (the b-dirs are the plan's
    * HadoopFsRelation root paths, in read order).
    */
  private def rootDirs(df: DataFrame): Vector[String] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten.toVector
  }

  private def launchIvfRetrain(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, snapshotUnion: DataFrame,
      snapshotDirs: Vector[String], nCentroids: Int, iters: Int,
      profile: graft.ext.IndexProfile): Unit = {
    val side = indexPath.stripSuffix("/") + "_retrain"
    val failure =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val t = new Thread(() => {
      try {
        // force: the side path may hold a stale crashed attempt —
        // rebuild regardless of its stamp
        graft.ext.Similarity.ensureIvfIndex(snapshotUnion, side,
          nCentroids, iters, force = true, profile = profile)
        ()
      } catch { case e: Throwable => failure.set(e) }
    }, "graft-ivf-refresh-" +
      Integer.toHexString(indexPath.hashCode))
    t.setDaemon(true)
    ivfRetrains.put(indexPath, IvfRetrain(t, snapshotDirs, side, failure))
    t.start()
  }

  /** Adopt a COMPLETED background retrain: catch the side index up
    * with the b-dirs landed since the snapshot, swap it into place,
    * and run the futility bookkeeping the sync route did after its
    * in-line retrain. Called at the START of each maintenance step so
    * the current batch extends the fresh model. Returns true when a
    * swap happened.
    */
  private def adoptIvfRetrain(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, baseDirs: Vector[String], nCentroids: Int,
      iters: Int, profile: graft.ext.IndexProfile,
      threshold: Option[Double]): Boolean = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val job = ivfRetrains.get(indexPath)
    if (job == null || job.thread.isAlive) false
    else {
      ivfRetrains.remove(indexPath)
      if (job.failure.get() != null) {
        log.warn(s"async IVF retrain for $indexPath failed — serving " +
          s"continues on the frozen model; a later breach relaunches: " +
          job.failure.get().getMessage)
        false
      } else {
        // catch-up: extend the side index with every dir landed after
        // the snapshot, in landed order — the same incremental route
        // the live index rode meanwhile
        val missedOk = baseDirs.nonEmpty || job.snapshot.isEmpty
        val snapSet = job.snapshot.toSet
        // layout-drift guard: consolidateLanded (same maintenance
        // loop) DELETES folded b-dirs and replaces them with a c-dir,
        // so a retrain spanning a consolidation would (a) read
        // vanished snapshot dirs in the catch-up (path-not-found,
        // uncaught in foreachBatch — a stream kill) or (b) re-extend a
        // c-dir whose rows the snapshot already covers (silent
        // duplicates). Adoption is only sound when every snapshot dir
        // is still in the live landed list AND nothing consolidated
        // appeared since; otherwise discard the side index — the
        // frozen model keeps serving and a later breach relaunches
        // over the post-consolidation layout.
        val catchUp = baseDirs.filterNot(snapSet)
        val layoutOk = snapSet.subsetOf(baseDirs.toSet) &&
          !catchUp.exists(_.split('/').last.startsWith("c"))
        if (!missedOk) {
          log.warn(s"async IVF retrain for $indexPath: cannot recover " +
            "the landed-dir list from the base plan — discarding the " +
            "retrain (a later breach relaunches)")
          false
        } else if (!layoutOk) {
          log.warn(s"async IVF retrain for $indexPath: the landed " +
            "layout consolidated past the retrain's snapshot — " +
            "discarding the side index (a later breach relaunches " +
            "over the new layout)")
          val fsSide = new org.apache.hadoop.fs.Path(job.sidePath)
          try fsSide.getFileSystem(spark.sessionState.newHadoopConf())
            .delete(fsSide, true)
          catch { case _: java.io.IOException => () }
          false
        } else try {
          // the catch-up extends and the swap run under the LIVE
          // index's mutation lease with its stamp off for the rename
          // window — the protocol every other live-index mutation
          // (extendStamped/compactStamped) follows, so a cooperating
          // offline writer is refused for the whole adoption instead
          // of interleaving between the renames. External READERS of
          // indexPath must still tolerate (retry) a transient
          // missing-dir between the two renames — the documented cost
          // of a swap-based layout without pointer indirection.
          graft.engine.AtRest.withMutationLease(spark, indexPath,
            graft.ext.Similarity.IvfLayout.meta) {
          var covered = job.snapshot
          catchUp.foreach { d =>
            graft.ext.Similarity.extendIvfIndex(
              Tables.parquet(spark, covered: _*), Tables.parquet(spark, d),
              job.sidePath, nCentroids, iters,
              unionView = Some(Tables.parquet(spark, (covered :+ d): _*)),
              profile = profile)
            covered = covered :+ d
          }
          // swap: live → retired, side → live, drop retired. The lease
          // excludes cooperating writers; crash between the renames
          // leaves a rebuildable gap, never a mix. The live stamp comes
          // OFF before the first rename (compactStamped's discipline —
          // a crash mid-swap must leave a stampless/absent live dir,
          // a clean rebuild) and is restored verbatim if the retire
          // rename fails, so the failure path keeps serving the frozen
          // index without a spurious rebuild.
          val live = new org.apache.hadoop.fs.Path(indexPath)
          val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
          val retired = new org.apache.hadoop.fs.Path(
            indexPath.stripSuffix("/") + "_retired")
          try fs.delete(retired, true)
          catch { case _: java.io.IOException => () }
          val liveStamp = graft.engine.AtRest.readStamp(spark, indexPath,
            graft.ext.Similarity.IvfLayout.meta)
          graft.engine.AtRest.deleteStamp(spark, indexPath,
            graft.ext.Similarity.IvfLayout.meta)
          if (!fs.rename(live, retired)) {
            liveStamp.foreach { st =>
              graft.engine.AtRest.ensureStamped(spark, indexPath,
                graft.ext.Similarity.IvfLayout.meta, st, force = true) {}
            }
            log.warn(s"async IVF retrain for $indexPath: could not " +
              "retire the live index — keeping it; the side index " +
              "stays for the next adoption attempt")
            ivfRetrains.put(indexPath, job.copy(snapshot = covered))
            false
          } else if (!fs.rename(
              new org.apache.hadoop.fs.Path(job.sidePath), live)) {
            // restore the live index rather than serve nothing
            fs.rename(retired, live)
            log.warn(s"async IVF retrain for $indexPath: swap failed — " +
              "restored the frozen index; a later breach relaunches")
            false
          } else {
            try fs.delete(retired, true)
            catch { case _: java.io.IOException => () }
            // futility bookkeeping, exactly the sync route's: a swap
            // that still cannot bring the imbalance under the
            // threshold records the bottomed-out level so the policy
            // stands down instead of retraining every batch
            threshold.foreach { thr =>
              val after = graft.ext.Similarity
                .ivfCellLoadStats(spark, indexPath)
                .select(org.apache.spark.sql.functions.col("imbalance"))
                .head().getDouble(0)
              if (after > thr) {
                log.warn(s"IVF index $indexPath still at imbalance " +
                  s"$after > $thr AFTER the async retrain — recording " +
                  "the futile level; the policy stands down until the " +
                  "imbalance grows past it")
                recordRefreshFutile(spark, indexPath, after)
              } else clearRefreshFutile(spark, indexPath)
            }
            log.info(s"async IVF retrain for $indexPath adopted " +
              s"(${covered.size - job.snapshot.size} catch-up batches)")
            true
          }
          }
        } catch {
          case e: graft.engine.AtRest.ConcurrentWriterException =>
            // an offline writer holds the live index's lease: keep the
            // completed retrain pending and let the next maintenance
            // step retry the adoption after the writer finishes
            log.warn(s"async IVF retrain for $indexPath: adoption " +
              s"deferred — ${e.getMessage}")
            ivfRetrains.put(indexPath, job)
            false
        }
      }
    }
  }

  /** The refresh policy's futility marker: a prior policy retrain that
    * could NOT bring the imbalance under the threshold records where
    * it bottomed out (`<indexPath>/_graft_refresh_futile`), so the
    * policy never retrains the same unfixable shape batch after batch
    * — the difference between a drift remedy and an unbounded cost
    * amplifier on corpora whose load skew is intrinsic (one giant
    * near-duplicate cluster, a Zipf head cell). Hadoop FS, any store.
    */
  private def futilePath(indexPath: String) =
    new org.apache.hadoop.fs.Path(indexPath, "_graft_refresh_futile")
  private[graft] def refreshFutileLevel(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[Double] = {
    val p = futilePath(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val in = fs.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toDoubleOption
      finally in.close()
    } catch { case _: java.io.IOException => None }
  }
  private def recordRefreshFutile(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      level: Double): Unit = {
    val p = futilePath(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(level.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
  private def clearRefreshFutile(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit = {
    val p = futilePath(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.delete(p, false)
    catch { case _: java.io.IOException => () }
  }

  /** [[indexMaintenanceBatch]] for the IVF family. */
  private[graft] def ivfIndexBatch(
      spark: org.apache.spark.sql.SparkSession, corpusDir: String,
      newDir: String, prev: Option[Vector[String]], indexPath: String,
      nCentroids: Int, iters: Int = 3,
      profile: graft.ext.IndexProfile = graft.ext.IndexProfile.Production(),
      cellFileBudget: Int = CellFileBudget,
      maxLandedDirs: Int = LandedDirBudget,
      refreshImbalance: Option[Double] =
        Some(graft.ext.Similarity.refreshImbalanceDefault),
      refreshAsync: Boolean = true)
      : Vector[String] =
    indexMaintenanceBatch(spark, corpusDir, newDir, prev,
      Seq(ivfMaintained(indexPath, nCentroids, iters, profile,
        cellFileBudget, refreshImbalance, refreshAsync)),
      maxLandedDirs = maxLandedDirs)

  /** The CDC containment index's streaming face (x140/x142): each
    * document micro-batch lands under `corpusDir/b<id>`, the first
    * batch of a (re)started query seeds
    * [[graft.ext.Dedup.ensureCdcIndex]] over every landed dir, and
    * later batches run [[graft.ext.Dedup.extendCdcIndex]] — the batch
    * chunked ALONE (per-document boundaries make the chunk relation
    * exactly mergeable) and the dup-bounded pair stage re-run over the
    * skinny persisted chunks, with the cap + denominators recomputed
    * over the union exactly as from-scratch.
    */
  def cdcIndexStream(docs: DataFrame, corpusDir: String,
      indexPath: String, checkpoint: String, p: Int = 8,
      threshold: Double = 0.5,
      maxDf: Option[Long] = Some(100L),
      chunkMaxShards: Int = ChunkMaxShards): StreamingQuery =
    indexMaintenanceStream(docs, corpusDir, checkpoint,
      Seq(Maintained(Dedup.cdcFamily(p, threshold, maxDf), indexPath,
        chunkMaxShards)))

  /** Bounded retry for a lease REFUSAL inside one maintenance step —
    * fail-fast is right for a batch job, but a streaming micro-batch
    * that collides with an offline `ensure` over the same index must
    * not die with the query. Retries (default 3 × 2 s) cover the short
    * collisions; a still-held lease SKIPS the step: the batch is
    * already landed, so the next trigger's extend sees a stamp that
    * covers neither its base nor the union and falls through to the
    * rebuild-over-landed-corpus arm — coverage is repaired, never
    * double-extended (the refused step mutated nothing).
    */
  private[graft] val LeaseRetryDefault = 3
  private[graft] val LeaseBackoffMsDefault = 2000L

  /** THE at-rest index maintenance step, shared by every streaming
    * face: land→flat-read→seed-or-extend over the face's
    * [[Maintained]] indexes, in order. The driver tracks the LANDED
    * DIRECTORY LIST, not a chained-union DataFrame: base is one flat
    * `Tables.parquet(spark, dirs: _*)` scan each batch, so the analyzed
    * plan the stamps hash stays constant-depth at any stream lifetime
    * (a per-batch `base.union(landed)` chain made stamp analysis — and
    * analyzer memory — grow linearly in batch count), and the union
    * view handed to each extension is the same flat read over
    * dirs ∪ {new}, which is exactly the base plan the NEXT batch
    * constructs — so stamps keep matching.
    *
    * With no in-memory dir list (the first batch of a (re)started
    * query) the landed `b*` dirs are LISTED and — when any predate
    * this batch — the step EXTENDS from them: a cleanly-shut-down
    * stream resumes incrementally (the at-rest stamp still matches the
    * flat read over the landed prefix), never re-paying a full rebuild
    * (for the kNN family, a re-TRAIN) of a corpus that may be 1000×
    * the batch. A drifted or torn prefix falls through the extension's
    * rebuild arm to an ensure over the WHOLE landed corpus — the
    * crash-safe floor. Past `maxLandedDirs` the landed dirs are
    * consolidated and every index restamped ([[consolidateLanded]]).
    * Returns the updated landed list.
    */
  private[graft] def indexMaintenanceBatch(
      spark: org.apache.spark.sql.SparkSession, corpusDir: String,
      newDir: String, prev: Option[Vector[String]],
      indexes: Seq[Maintained],
      leaseRetries: Int = LeaseRetryDefault,
      leaseBackoffMs: Long = LeaseBackoffMsDefault,
      maxLandedDirs: Int = LandedDirBudget): Vector[String] = {
    val newQ = qualifiedDir(spark, newDir)
    val landed = prev.map(_ :+ newQ)
      .getOrElse(landedBatchDirs(spark, corpusDir))
    val base = landed.filterNot(_ == newQ)
    def step(): Unit = {
      val all = Tables.parquet(spark, landed: _*)
      if (base.isEmpty) indexes.foreach(_.ensure(all))
      else {
        val b = Tables.parquet(spark, base: _*)
        val n = Tables.parquet(spark, newQ)
        indexes.foreach(_.extend(b, n, Some(all)))
      }
    }
    @annotation.tailrec
    def attempt(left: Int): Unit = {
      val refused =
        try { step(); None }
        catch {
          case e: graft.engine.AtRest.ConcurrentWriterException => Some(e)
        }
      refused match {
        case None => ()
        case Some(_) if left > 0 =>
          Thread.sleep(leaseBackoffMs)
          attempt(left - 1)
        case Some(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "index maintenance step skipped — writer lease still held " +
              "after retries; next trigger repairs coverage: " +
              e.getMessage)
      }
    }
    attempt(leaseRetries)
    // corpus-side self-maintenance: past the dir budget, fold the b
    // tail into one consolidated dir and move the stamps to the new
    // plan — keeps the per-batch listing/fingerprint metadata cost
    // bounded at any stream lifetime. The first index's outcome
    // decides the fold; the others follow it (a foreign stamp there
    // only means a rebuild on its next extension).
    if (landed.size <= maxLandedDirs) landed
    else consolidateLanded(spark, corpusDir, landed,
      (o, n) => indexes.map(_.restamp(o, n)).head)
  }

  /** The foreachBatch driver shared by the `*IndexStream` faces: land
    * the micro-batch under `corpusDir/b<id>` (stable files, so the
    * index stamps can fingerprint them), then run one
    * [[indexMaintenanceBatch]] step, threading the landed-dir list
    * through the closure.
    */
  private def indexMaintenanceStream(src: DataFrame, corpusDir: String,
      checkpoint: String, indexes: Seq[Maintained]): StreamingQuery = {
    claimCorpusOwner(src.sparkSession, corpusDir, checkpoint)
    var dirs: Option[Vector[String]] = None
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val newDir = s"$corpusDir/b$id"
        batch.write.mode("overwrite").parquet(newDir)
        dirs = Some(indexMaintenanceBatch(batch.sparkSession, corpusDir,
          newDir, dirs, indexes))
        ()
      }
      .start()
  }

  /** A stream's owner identity: the checkpoint location qualified
    * against its OWN filesystem (not the corpus dir's — a relative
    * path, a default-FS change, or an equivalent-but-differently-
    * spelled path must qualify to the same string across restarts, or
    * a legitimate restart gets refused until the operator intervenes)
    * and normalized through the URI form.
    */
  private[graft] def ownerIdentity(
      spark: org.apache.spark.sql.SparkSession,
      checkpoint: String): String = {
    val cp = new org.apache.hadoop.fs.Path(checkpoint)
    val u = cp.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(cp).toUri
    // rebuild with an EXPLICIT (possibly empty) authority: "file:/x"
    // and "file:///x" are the same location but different strings, and
    // which one makeQualified yields depends on how the caller spelled
    // the path — a restart must never be refused over that
    new java.net.URI(u.getScheme,
      Option(u.getAuthority).getOrElse(""), u.getPath, null, null)
      .toString
  }

  /** Owner-file equality tolerant of the PRE-explicit-authority
    * spelling: owner files written before the URI normalization hold
    * Hadoop `Path.toString` form (`file:/x`) while [[ownerIdentity]]
    * yields `file:///x` — without this, upgrading the library refuses
    * a legitimate restart of every already-owned corpus (and
    * [[transferCorpusOwnership]] refuses its rightful transferor as
    * "stale") until the operator hand-deletes `_graft_owner`. Both
    * sides are compared through the same explicit-authority rebuild.
    */
  private[graft] def sameOwnerIdentity(stored: String,
      me: String): Boolean =
    stored == me || normalizeOwnerSpelling(stored) == me
  private[graft] def normalizeOwnerSpelling(s: String): String =
    try {
      val u = new java.net.URI(s)
      if (u.getScheme == null) s
      else new java.net.URI(u.getScheme,
        Option(u.getAuthority).getOrElse(""), u.getPath, null, null)
        .toString
    } catch { case _: java.net.URISyntaxException => s }

  /** One landed corpus dir ↔ one stream: two *IndexStream queries
    * landing into the same `corpusDir` would interleave `b<id>`
    * allocation — each stream's checkpoint numbers its OWN micro-
    * batches from 0, so the second stream's `b0` overwrite-lands on
    * top of the first's (silent row loss before consolidation even
    * enters the picture). The contract is therefore claimed at stream
    * START, fail-fast and typed: a `_graft_owner` sidecar records the
    * owning CHECKPOINT location. A restart (same checkpoint) re-claims
    * its own corpus — restart-resume semantics are untouched, and
    * there is no TTL to misjudge a long gap between runs — while a
    * different stream is refused before its first trigger. Taking
    * over an abandoned corpus is an explicit operator action (delete
    * the sidecar), mirroring Structured Streaming's own
    * one-checkpoint-one-query exclusivity model.
    */
  private[graft] def claimCorpusOwner(
      spark: org.apache.spark.sql.SparkSession, corpusDir: String,
      checkpoint: String, settleMs: Long = 2000): Unit = {
    val p = new org.apache.hadoop.fs.Path(corpusDir, "_graft_owner")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val me = ownerIdentity(spark, checkpoint)
    // settle: how long to wait for an EMPTY owner file to fill in (a
    // concurrent claimer sits between create-exclusive and write);
    // grace: how old an empty file must be before it reads as a TORN
    // claim (crash in that window) eligible for reclaim. Without the
    // grace age, two concurrently starting streams race: B reads A's
    // just-created 0-byte file, "reclaims" it, and both run — the
    // exact b<id> collision this guard exists to refuse. The grace is
    // the one deployment setting here, so it is checked, not trusted.
    val graceKey = "spark.graft.corpus.ownerGraceMs"
    val graceRaw = spark.conf.get(graceKey, "60000")
    val graceMs = graceRaw.trim.toLongOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(s"$graceKey must be a " +
        s"non-negative number of milliseconds, got '$graceRaw'"))
    def read(): Option[String] =
      try {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } catch { case _: java.io.IOException => None }
    def refuse(owner: String): Nothing =
      throw new IllegalStateException(
        s"corpus dir $corpusDir is owned by the stream checkpointed at " +
          s"$owner — two streams landing into one corpus dir would " +
          "collide on b<id> allocation; use a separate corpusDir, or " +
          "transfer an abandoned corpus with " +
          "Streams.transferCorpusOwnership")
    // claim-race refusals carry a REASON, not an owner: interpolating
    // a sentinel like "<lost claim race>" into the owned-by template
    // produced a misleading "checkpointed at <lost claim race>" message
    def refuseRace(reason: String): Nothing =
      throw new IllegalStateException(
        s"cannot claim corpus dir $corpusDir: $reason — two streams " +
          "landing into one corpus dir would collide on b<id> " +
          "allocation; retry shortly, use a separate corpusDir, or " +
          "transfer an abandoned corpus with " +
          "Streams.transferCorpusOwnership")
    // a LEGACY-spelling match is still our own corpus: accept it and
    // rewrite the file to the current form so the next restart (and
    // any transfer validation) compares exactly
    // temp-write + rename, NOT an in-place overwrite: a crash mid-
    // rewrite would otherwise leave an empty/torn _graft_owner that,
    // past the reclaim grace, a foreign stream could delete and claim
    // — the spelling upgrade must never convert a valid ownership
    // claim into a reclaimable one. Rename is atomic on HDFS-class
    // stores; on a store without atomic rename the failure mode
    // reverts to the legacy spelling (still ours), never a torn file.
    def rewriteToCurrentForm(): Unit =
      try {
        val tmp = new org.apache.hadoop.fs.Path(corpusDir,
          s"_graft_owner.rewrite.${ProcessHandle.current().pid()}")
        val out = fs.create(tmp, true)
        try out.write(
          me.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        // FileContext rename with OVERWRITE: atomic replace on
        // HDFS-class stores (the FileSystem.rename API would refuse an
        // existing destination, and delete-then-rename would open a
        // no-owner-file window a foreign stream could claim through)
        try org.apache.hadoop.fs.FileContext
          .getFileContext(p.toUri,
            spark.sessionState.newHadoopConf())
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        finally {
          try fs.delete(tmp, false)
          catch { case _: java.io.IOException => () }
        }
      } catch {
        case _: java.io.IOException => ()
        case _: UnsupportedOperationException => ()
      }
    def tryCreate(): Boolean =
      try {
        val out = fs.create(p, false) // create-exclusive
        try out.write(
          me.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    // attempt-bounded: every retry edge consumes one attempt, so a
    // pathological FS can only loop 3 times before refusing loudly
    def claim(attempt: Int): Unit =
      if (attempt > 3) refuseRace("an unresolvable claim race (3 " +
        "create/read attempts exhausted)")
      else if (tryCreate())
        // read-back verify: a racing claimer that (wrongly, under
        // clock skew past the grace) judged our fresh empty file torn
        // could have deleted-and-reclaimed between our create and
        // write — the file must still carry OUR token (exact form:
        // we just wrote it)
        read() match {
          case Some(owner) if owner == me => ()
          case Some(owner) if owner.nonEmpty => refuse(owner)
          case _ => refuseRace("lost the claim race (the owner file " +
            "no longer carries this stream's token)")
        }
      else decide(attempt + 1)
    def decide(attempt: Int): Unit =
      if (attempt > 3) refuseRace("an unresolvable claim race (3 " +
        "create/read attempts exhausted)")
      else read() match {
        case Some(owner) if owner == me => ()
        case Some(owner) if sameOwnerIdentity(owner, me) =>
          rewriteToCurrentForm()
        case Some(owner) if owner.nonEmpty => refuse(owner)
        case None => claim(attempt)
        case Some(_) =>
          // EMPTY owner file: give a concurrent claimer's write time
          // to land before judging it torn
          val deadline = System.currentTimeMillis() + settleMs
          var cur: Option[String] = Some("")
          while (cur.contains("") &&
              System.currentTimeMillis() < deadline) {
            Thread.sleep(100)
            cur = read()
          }
          cur match {
            case Some(owner) if owner == me => ()
            case Some(owner) if sameOwnerIdentity(owner, me) =>
              rewriteToCurrentForm()
            case Some(owner) if owner.nonEmpty => refuse(owner)
            case None => claim(attempt + 1)
            case Some(_) =>
              // still empty after the settle: a TORN claim only if
              // older than the grace — a younger one is a live
              // claimer on a slow store, and deleting it would be
              // the TOCTOU this logic exists to close
              val age =
                try System.currentTimeMillis() -
                  fs.getFileStatus(p).getModificationTime
                catch {
                  case _: java.io.FileNotFoundException => Long.MaxValue
                }
              if (age < graceMs)
                refuseRace("an in-flight or torn claim younger than " +
                  s"the ${graceMs / 1000}s reclaim grace — retry " +
                  "shortly")
              try fs.delete(p, false)
              catch { case _: java.io.IOException => () }
              claim(attempt + 1)
          }
      }
    decide(0)
  }

  /** Explicit, validated ownership transfer of a landed corpus — the
    * API face of what used to be a hand-delete of `_graft_owner` (the
    * one mutation in the system that had no lease and no check). Runs
    * under the corpus's at-rest writer lease so two transfers (or a
    * transfer and a crashed-transfer retry) serialize; validates that
    * the corpus is currently owned by `fromCheckpoint`'s stream — a
    * stale claimant (anyone but the recorded owner) is refused — then
    * re-points the claim at `toCheckpoint`'s identity. The owner file
    * is deleted and re-created create-exclusive: a crash between the
    * two leaves NO owner file, i.e. a corpus the rightful new stream
    * (or a transfer retry — `from == to` and an unowned corpus both
    * short-circuit to a plain claim) claims normally. Never corrupt,
    * at worst unclaimed.
    */
  def transferCorpusOwnership(
      spark: org.apache.spark.sql.SparkSession, corpusDir: String,
      fromCheckpoint: String, toCheckpoint: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(corpusDir, "_graft_owner")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val from = ownerIdentity(spark, fromCheckpoint)
    val to = ownerIdentity(spark, toCheckpoint)
    def read(): Option[String] =
      try {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } catch { case _: java.io.IOException => None }
    graft.engine.AtRest.withMutationLease(spark, corpusDir,
      "_graft_owner") {
      read() match {
        case Some(owner) if sameOwnerIdentity(owner, to) =>
          () // crashed-retry idempotence
        case Some(owner) if owner.nonEmpty &&
            !sameOwnerIdentity(owner, from) =>
          throw new IllegalStateException(
            s"corpus dir $corpusDir is owned by $owner, not by the " +
              s"claimed transferor $from — a stale claimant cannot " +
              "transfer a corpus it no longer owns")
        case other =>
          // owned by `from`, torn (empty), or unowned (a prior
          // transfer crashed between delete and create): all roads
          // lead to a fresh exclusive claim for `to`
          if (other.isDefined)
            try fs.delete(p, false)
            catch { case _: java.io.IOException => () }
          val out = fs.create(p, false)
          try out.write(
            to.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          if (!read().contains(to))
            throw new IllegalStateException(
              s"ownership transfer of $corpusDir lost a race — the " +
                "owner file no longer carries the transferee; re-run " +
                "the transfer")
      }
    }
  }

  /** The `b<id>` batch directories already landed under `corpusDir`,
    * sorted numerically by batch id — the recovery listing
    * [[dedupIndexStream]] seeds from after a restart. Hadoop FS API so
    * the corpus dir can live on any cluster filesystem. Paths come
    * back FULLY QUALIFIED (scheme-ful) — callers must qualify their
    * own paths the same way before comparing ([[qualifiedDir]]).
    */
  private[graft] def landedBatchDirs(
      spark: org.apache.spark.sql.SparkSession,
      corpusDir: String): Vector[String] = {
    val p = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // ONE listing serves both the b-dir view and the manifest lookup —
    // this runs per maintenance step, and on an object store LIST is
    // the expensive metadata op the consolidation exists to bound
    val listedAll = fs.listStatus(p).toVector
    val listed = listedAll.filter(_.isDirectory)
    readManifestFrom(fs, listedAll,
      () => try fs.listStatus(p).toVector
      catch { case _: java.io.FileNotFoundException =>
        Vector.empty[org.apache.hadoop.fs.FileStatus] }) match {
      case Some((upTo, cdirs)) =>
        // consolidated layout: the manifest's c<id> dirs carry every
        // batch ≤ upTo; live b<id> dirs past the watermark follow.
        // b dirs ≤ upTo (folded, pending delete) and c dirs not in the
        // manifest (crashed consolidations) are INVISIBLE — the
        // atomic manifest rename is the one commit point, so a crash
        // anywhere in a consolidation can only orphan files, never
        // double- or under-count the corpus.
        val live = listed
          .filter(s => s.getPath.getName.matches("b\\d+") &&
            s.getPath.getName.drop(1).toLong > upTo)
          .sortBy(_.getPath.getName.drop(1).toLong)
          .map(_.getPath.toString)
        cdirs.map(n => fs.makeQualified(
          new org.apache.hadoop.fs.Path(p, n)).toString) ++ live
      case None =>
        listed
          .filter(_.getPath.getName.matches("b\\d+"))
          .sortBy(_.getPath.getName.drop(1).toLong)
          .map(_.getPath.toString)
    }
  }

  /** The landed-corpus manifest: `corpusDir/_graft_landed.<seq>`,
    * first line the consolidation watermark (`upTo=<id>` — every b dir
    * with id ≤ it has been folded), following lines the consolidated
    * dir NAMES in read order. Manifests are VERSIONED and readers take
    * the highest seq: a new manifest is created under a fresh name
    * (tmp + rename — never overwriting or deleting the current one
    * first), and superseded manifests are reclaimed only AFTER the new
    * one is visible. That ordering is what makes the commit genuinely
    * atomic on any Hadoop filesystem: the old delete-then-rename swap
    * had a crash window with NO manifest at all, in which
    * [[landedBatchDirs]] falls back to the plain b-listing and every
    * row already folded into a c dir (whose b dirs the earlier
    * consolidation deleted) silently vanishes from the corpus view.
    * Legacy unsuffixed `_graft_landed` files read as seq 0. Absent ⇒
    * the plain b-listing layout.
    */
  private[graft] val LandedManifest = "_graft_landed"

  /** Committed manifest versions in an already-obtained `corpusDir`
    * listing, as (seq, path) — the bare legacy name is seq 0; `.tmp`
    * files never match. */
  private def manifestVersionsIn(
      listed: Vector[org.apache.hadoop.fs.FileStatus])
      : Vector[(Long, org.apache.hadoop.fs.Path)] =
    listed.filter(_.isFile).flatMap { s =>
      val n = s.getPath.getName
      if (n == LandedManifest) Some((0L, s.getPath))
      else {
        val suffix = n.stripPrefix(LandedManifest + ".")
        if (n.startsWith(LandedManifest + ".") && suffix.nonEmpty &&
          suffix.forall(_.isDigit)) Some((suffix.toLong, s.getPath))
        else None
      }
    }

  private def manifestVersions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Vector[(Long, org.apache.hadoop.fs.Path)] =
    manifestVersionsIn(
      try fs.listStatus(root).toVector
      catch { case _: java.io.FileNotFoundException => Vector.empty })

  /** Read the highest committed manifest out of `initial` (a listing
    * the caller already paid for), re-listing via `relist` on a
    * bounded retry when a concurrent commit reclaims the version we
    * picked. */
  private def readManifestFrom(fs: org.apache.hadoop.fs.FileSystem,
      initial: Vector[org.apache.hadoop.fs.FileStatus],
      relist: () => Vector[org.apache.hadoop.fs.FileStatus])
      : Option[(Long, Vector[String])] = {
    @annotation.tailrec
    def attempt(left: Int,
        listed: Vector[org.apache.hadoop.fs.FileStatus])
        : Option[(Long, Vector[String])] =
      manifestVersionsIn(listed).sortBy(_._1).lastOption match {
        case None => None
        case Some((_, mp)) =>
          val text =
            try {
              val in = fs.open(mp)
              Some(try new String(in.readAllBytes(),
                java.nio.charset.StandardCharsets.UTF_8)
              finally in.close())
            } catch {
              case _: java.io.FileNotFoundException if left > 0 => None
            }
          text match {
            case Some(t) =>
              val lines = t.split("\n").toVector.filter(_.nonEmpty)
              Some((lines.head.stripPrefix("upTo=").toLong, lines.tail))
            case None => attempt(left - 1, relist())
          }
      }
    attempt(3, initial)
  }

  private[graft] def readLandedManifest(
      spark: org.apache.spark.sql.SparkSession,
      corpusDir: String): Option[(Long, Vector[String])] = {
    val root = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def list(): Vector[org.apache.hadoop.fs.FileStatus] =
      try fs.listStatus(root).toVector
      catch { case _: java.io.FileNotFoundException => Vector.empty }
    readManifestFrom(fs, list(), () => list())
  }

  private def writeLandedManifest(
      spark: org.apache.spark.sql.SparkSession, corpusDir: String,
      upTo: Long, consolidated: Seq[String]): Unit = {
    val root = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prior = manifestVersions(fs, root)
    val seq = (0L +: prior.map(_._1)).max + 1
    val mp = new org.apache.hadoop.fs.Path(root, s"$LandedManifest.$seq")
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"$LandedManifest.$seq.tmp")
    val out = fs.create(tmp, true)
    try out.write((s"upTo=$upTo\n" + consolidated.mkString("\n"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, mp))
      sys.error(s"manifest rename failed: $tmp -> $mp")
    // commit point passed — reclaim superseded manifests and any
    // crash-orphaned tmps, best-effort (a failure here leaves extra
    // files, never an inconsistent view: readers take the highest seq)
    prior.foreach { case (_, p) =>
      try fs.delete(p, false)
      catch { case _: java.io.IOException => () }
    }
    val staleTmp = try fs.listStatus(root).toVector.filter(s =>
      s.isFile && s.getPath.getName.startsWith(LandedManifest + ".") &&
        s.getPath.getName.endsWith(".tmp") && s.getPath != tmp)
    catch { case _: java.io.IOException =>
      Vector.empty[org.apache.hadoop.fs.FileStatus] }
    staleTmp.foreach { s =>
      try fs.delete(s.getPath, false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Fold the landed `b<id>` tail into ONE new consolidated `c<id>`
    * dir and move the index stamps to the new read plan — the
    * corpus-side twin of the index compactions: without it, every
    * maintenance step's stamp fingerprint LISTS every landed file
    * (O(batches) driver metadata per batch, O(batches²) cumulative
    * over a stream's lifetime) and the dir count grows without bound.
    * Each row is consolidated exactly ONCE (previous c dirs are left
    * alone — the one-level LSM shape), so the steady-state listing is
    * ~(batches/budget) c dirs + ≤budget live b dirs, and the write
    * amplification is a single extra copy per row per lifetime.
    *
    * Commit protocol — the atomic manifest rename is the ONE commit
    * point: (1) the folded rows are written to the (not yet visible)
    * c dir; (2) the family's `restamp` moves the artifact stamps from
    * the old flat plan to the new one (rows identical, artifact
    * untouched — [[graft.engine.AtRest.restampIf]] under the writer
    * lease; a foreign stamp aborts the consolidation with the c dir
    * deleted); (3) the manifest rename makes the new layout visible;
    * (4) folded b dirs and orphaned c dirs are reclaimed best-effort.
    * A crash between (2) and (3) — or (1) and (2) — costs at most one
    * rebuild/orphan, never a double- or under-counted corpus.
    */
  private[graft] def consolidateLanded(
      spark: org.apache.spark.sql.SparkSession, corpusDir: String,
      landed: Vector[String],
      restamp: (DataFrame, DataFrame) => Boolean,
      targetBytes: Long = 128L * 1024 * 1024,
      maxConsolidated: Int = MaxConsolidatedDirs): Vector[String] = {
    val (cdirs, bdirs) = landed.partition(
      _.split('/').last.startsWith("c"))
    // two-level fold: normally only the b tail folds (each row
    // consolidated once), but once the c list itself reaches its
    // budget EVERYTHING folds into one dir — c dirs then never exceed
    // maxConsolidated, and a full fold recurs only every
    // (maxLandedDirs · maxConsolidated) batches, so amortized write
    // amplification stays ~2 copies per row per lifetime
    val foldAll = cdirs.size >= maxConsolidated
    val src = if (foldAll) landed else bdirs
    if (src.size < 2 || bdirs.isEmpty) landed
    else {
      val root = new org.apache.hadoop.fs.Path(corpusDir)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      // b ids always exceed every folded c id, so the new c<id> name
      // can never collide with a surviving dir
      val lastBid = bdirs.map(_.split('/').last.drop(1).toLong).max
      val newName = s"c$lastBid"
      val newPath = new org.apache.hadoop.fs.Path(root, newName)
      val bytes = src.map { d =>
        fs.listStatus(new org.apache.hadoop.fs.Path(d))
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getLen).sum
      }.sum
      Tables.parquet(spark, src: _*)
        .repartition(math.max(1,
          math.ceil(bytes.toDouble / targetBytes).toInt))
        .write.mode("overwrite").parquet(newPath.toString)
      val newLanded = (if (foldAll) Vector.empty[String] else cdirs) :+
        fs.makeQualified(newPath).toString
      val moved = restamp(Tables.parquet(spark, landed: _*),
        Tables.parquet(spark, newLanded: _*))
      if (!moved) {
        // foreign/absent stamp (an offline writer intervened): abort —
        // the invisible c dir goes away and the layout stays as-is
        fs.delete(newPath, true)
        landed
      } else {
        writeLandedManifest(spark, corpusDir, lastBid,
          newLanded.map(_.split('/').last))
        // reclaim folded b dirs and any crash-orphaned c dirs
        bdirs.foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(d), true))
        val keep = newLanded.map(_.split('/').last).toSet
        fs.listStatus(root)
          .filter(s => s.isDirectory &&
            s.getPath.getName.matches("c\\d+") &&
            !keep.contains(s.getPath.getName))
          .foreach(s => fs.delete(s.getPath, true))
        newLanded
      }
    }
  }

  /** Landed-dir budget before a face consolidates: 64 keeps the
    * per-batch listing/stamping metadata cost bounded (~#c + 64 dirs)
    * while amortizing each consolidation over 64 batches.
    */
  private[graft] val LandedDirBudget = 64

  /** Consolidated-dir budget before [[consolidateLanded]] performs a
    * FULL fold (everything into one dir) instead of the usual b-tail
    * fold: bounds the manifest's c list at any stream lifetime while
    * keeping full folds rare enough (every maxLandedDirs·this batches)
    * that write amplification stays ~2 copies per row.
    */
  private[graft] val MaxConsolidatedDirs = 16

  /** `dir` as the fully-qualified path its filesystem reports — the
    * form [[landedBatchDirs]] returns. The recovery step REMOVES the
    * just-written batch dir from the listed base by string equality; a
    * raw caller path ("/tmp/x/b2") silently failing to match its
    * listed form ("file:/tmp/x/b2") would leave the new batch inside
    * the base, mismatch every stamp, and turn each recovery into a
    * full rebuild.
    */
  private def qualifiedDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
  }
}
