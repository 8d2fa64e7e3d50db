package graft.engine

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Defaults chosen for the 100 TB posture (SURVEY.md §4, §7.4-6):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replaces hand-tuned partition counts on a real cluster.
  *  - nested schema pruning on: our FHIR-ish schemas are deeply nested and a
  *    scan must not read whole resource structs for a 2-field projection
  *    (reference prunes by hand in its `$project` stages, db.go:100-104).
  *  - UTC session timezone: date derivations (bundle.go:54-60) must not
  *    depend on cluster-local timezones.
  *  - shuffle.partitions deliberately small for local[32]; on a cluster this
  *    is overridden by AQE + `spark.sql.adaptive.coalescePartitions`.
  */
object GraftSession {

  /** STATIC (context-creation-time) confs every graft session must be
    * built with. They cannot go through [[tune]] because Spark refuses
    * them on a live context, so only [[build]] applies them. Three
    * entries:
    *
    *  - `spark.shuffle.sort.bypassMergeThreshold=1` (r19,
    *    OPTIMIZATION_r19.md): never use the bypass-merge shuffle writer.
    *    For every SQL exchange with R reduce partitions under the
    *    threshold (default 200), the bypass writer creates R
    *    per-partition files per MAP TASK and concatenates them through
    *    FileChannel.transferTo (an mmap/unmap per file) — thread dumps
    *    of the r19 baseline showed the trainer queries' task threads
    *    pinned in FileOutputStream.open0/FileChannelImpl.map0 doing
    *    exactly that, and 32 concurrent tasks contending on the kernel
    *    mmap lock burned ~0.3–0.6 s of KERNEL CPU per task on 3-row
    *    partitions (x122: 26 CPU-s/pass → 3–10 with the serialized
    *    sort writer; x128: 32–42 → 8–10). The serialized sort writer
    *    (UnsafeShuffleWriter — the only writer at production R > 200
    *    anyway) writes ONE data file per map task at any R; its
    *    partition-id pointer sort is noise. Scale posture: at real
    *    cluster R this conf is moot (bypass never fires past 200); for
    *    small-R shuffles it removes an O(R) file-create/mmap term per
    *    map task on any filesystem.
    *  - `spark.sql.extensions=GraftExtensions` (r20): registers the
    *    engine's SQL functions AND the [[SortSampleCut]] AQE prep rule
    *    (global-sort range-sampling must not re-execute the query's
    *    final stage; see that rule's scaladoc for the evidence). Static
    *    because session extensions are fixed at session creation.
    *  - `spark.sql.codegen.cache.maxEntries=10000`: keep graft's
    *    generated classes. `CodeGenerator` reads this once, when the
    *    class initialises, into a Guava cache split over 4 segments
    *    (eviction starts before the bound is reached), and caches each
    *    code text once per class loader (driver and local executor).
    *    Spark's default of 100 is below one `PipelineMain.runFrames`
    *    run, which compiles 126 classes (GraftSessionSpec's corpus,
    *    `local[4]`), so each run evicted the previous run's classes and
    *    recompiled 119 of them; at 10,000 the second run compiles 4.
    *    perfbench `corpus_pipeline` (10 pairs, `local[4]`, 4 vCPUs):
    *    job wall 4.34 → 2.81 s, job CPU 2.18 → 1.18 s. The 192-query suite
    *    (`graft.Bench`, sf0.01, `local[4]`, 2 passes per query) holds
    *    ≈2,800 distinct entries in one JVM: its first passes compiled
    *    6,320 classes at 100 and 2,689 at 10,000, its second passes
    *    1,124 and 109. Cost after a GC at the end of that run: heap
    *    134 → 226 MB, Metaspace 187 → 212 MB, loaded classes
    *    28.1k → 33.1k.
    */
  val staticConfs: Seq[(String, String)] = Seq(
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.extensions" -> "graft.engine.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> "10000")

  def build(
      master: String = "local[32]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession = {
    val builder0 = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    val spark = staticConfs.foldLeft(builder0) {
      case (b, (k, v)) => b.config(k, v)
    }
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules", excludedOptimizerRules)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** InferFiltersFromGenerate synthesizes `size(arr) > 0 AND
    * isnotnull(arr)` under every explode and pushes it below the
    * projection that computes `arr` — for computed arrays (shingles,
    * signatures: interpreted higher-order functions, no codegen CSE)
    * that re-evaluates the whole array expression once per inferred
    * conjunct on every row. Measured: 2–3× the corpus shingle cost on
    * the contamination/inverted-index paths. The rule only prunes rows
    * early (never changes results), and every explode in this engine
    * either already filters empties or tolerates them, so it is excluded
    * session-wide. Arrays read from storage lose nothing measurable.
    */
  private val excludedOptimizerRules =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** The [[staticConfs]] that `conf` lacks, as `key=value`: a key unset
    * or set to another value, or an extension list without
    * `GraftExtensions`.
    */
  def missingStaticConfs(conf: SparkConf): Seq[String] =
    staticConfs.collect {
      case (k, v) if !conf.getOption(k).exists(got =>
          if (k == "spark.sql.extensions") got.split(",").map(_.trim).contains(v)
          else got == v) => s"$k=$v"
    }

  /** Apply graft's runtime defaults to a session built elsewhere (an
    * external driver calling `SparkEntry.entry`). Safe: only sets
    * runtime-settable confs, so such a session lacks [[staticConfs]]
    * unless its builder passed them; one WARN names those it lacks. */
  def tune(spark: SparkSession): SparkSession = {
    val missing = missingStaticConfs(spark.sparkContext.getConf)
    if (missing.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "this session was built without graft's static confs " +
          s"${missing.mkString(", ")}; only a session built through " +
          "GraftSession.build has them")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.optimizer.excludedRules", excludedOptimizerRules)
    spark
  }
}
