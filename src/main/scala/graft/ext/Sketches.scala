package graft.ext

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Fixed-memory frequency sketches — the approximate lever behind the
  * exact corpus-statistics queries.
  *
  * The exact heavy-hitter plan (x36) shuffles (term, count) pairs: fine
  * while term cardinality is bounded, unbounded at adversarial
  * cardinality (every n-gram unique). A count-min sketch caps the state
  * at depth×width counters per partition regardless of cardinality, at
  * the price of one-sided error: estimates only ever OVERCOUNT (by ≤
  * eps·N with the configured confidence), so a sketch-driven top-k can
  * admit a false heavy hitter but never drop a true one — the same
  * one-sided contract as the Bloom decontamination prefilter
  * ([[Contamination]]), and like it, meant to sit in front of an exact
  * pass over the (now bounded) survivors.
  */
object Sketches {

  /** Count-min sketch of a string column, built INSIDE the SQL engine via
    * the `count_min_sketch` aggregate (partial sketches per partition,
    * bitwise merge at the final agg — one pass, no RDD drop-down). The
    * returned sketch is bounded driver state (depth ≈ ln(1/(1-confidence))
    * × width ≈ e/eps longs — ~2 MB at the defaults), the same class as
    * the Bloom filter and the PQ codebook. Fixed seed keeps the sketch —
    * and anything gated on it — deterministic across runs.
    */
  def countMin(df: DataFrame, colName: String, eps: Double = 1e-4,
      confidence: Double = 0.99, seed: Int = 42): CountMinSketch = {
    val bytes = df
      .select(expr(
        s"count_min_sketch($colName, ${eps}d, ${confidence}d, $seed)"))
      .head().getAs[Array[Byte]](0)
    CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
  }

  /** The (row, bucket) hash of the RELATIONAL count-min sketch: row `r`
    * of the sketch hashes key k with the engine-portable md5-based
    * [[graft.ext.TextAnalysis.hash60]] salted `"cms<r>:"` — the same
    * hash family as the x18 split / x54 DSIR features, so a DuckDB
    * oracle reproduces every bucket byte-for-byte (unlike
    * [[countMin]]'s Spark-internal hashing, which is opaque to other
    * engines and therefore rows-only-checkable).
    */
  def cmsBucket(key: Column, r: Int, width: Int): Column =
    graft.ext.TextAnalysis.hash60(
      concat(lit(s"cms$r:"), key.cast("string"))) % width

  /** Relational count-min sketch TABLE: `depth`×`width` counter rows
    * (r, b, cnt) aggregated from one hash+explode pass over the keys.
    * This IS the CMS, held as a bounded relation instead of driver
    * bytes — mergeable across corpora by unioning + re-summing, and
    * broadcastable (depth·width rows ≪ any corpus) to wherever
    * estimates are needed. Fixed-memory regardless of key cardinality:
    * the state bound the exact x36 heavy-hitter plan lacks.
    */
  def countMinTable(keys: DataFrame, key: Column, width: Int,
      depth: Int): DataFrame = {
    require(width > 0 && depth > 0, s"bad CMS shape: $width x $depth")
    keys
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), cmsBucket(key, r, width).as("b"))): _*))
        .as("rb"))
      .select(col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
  }

  /** CMS-estimated heavy hitters with exact cross-check: top `k` keys by
    * count-min estimate (min over the `depth` counter rows each key
    * hashes to), alongside the true count and the one-sided overcount
    * (`est − true ≥ 0` ALWAYS — the CMS guarantee this output makes
    * auditable). `width` deliberately small relative to key cardinality
    * shows saturation; production sizes width ≈ e/eps.
    *
    * NO SILENT CAP, but an honest demo default: width = 256 at a 10⁹-key
    * vocabulary means every bucket absorbs ~4 M colliding keys and the
    * one-sided overcount approaches ‖corpus‖/width — estimates stay
    * upper bounds (the output's `overcount` column makes the inflation
    * visible per key), but top-k by estimate degrades toward top-k by
    * bucket mass. At eps = 10⁻⁶ (overcount ≤ one-millionth of corpus
    * mass) size width = ⌈e/eps⌉ ≈ 2.7 M, depth = ⌈ln(1/δ)⌉ — still only
    * depth·width counter rows (~65 MB of longs), broadcastable.
    *
    * Scale shape: the counter table is depth×width and BROADCAST to the
    * per-distinct-key probe relation (vocab-bounded, not corpus-bounded);
    * the only corpus-scale work is the two hash+count passes (table
    * build + true counts), both map-side partial-aggregated. The top-k
    * is a TakeOrderedAndProject, never a global sort.
    */
  def cmsHeavyHitters(keys: DataFrame, key: Column, k: Int,
      width: Int = 256, depth: Int = 3): DataFrame = {
    val table = countMinTable(keys, key, width, depth)
    val truth = keys.select(key.cast("string").as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("true_cnt"))
    val probes = truth
      .select(col("term"), col("true_cnt"),
        explode(array((0 until depth).map(r =>
          struct(lit(r).as("r"),
            cmsBucket(col("term"), r, width).as("b"))): _*)).as("rb"))
      .select(col("term"), col("true_cnt"),
        col("rb.r").as("r"), col("rb.b").as("b"))
    probes.join(broadcast(table), Seq("r", "b"))
      .groupBy(col("term"), col("true_cnt"))
      .agg(min(col("cnt")).as("est"))
      .select(col("term"), col("est"), col("true_cnt"),
        (col("est") - col("true_cnt")).as("overcount"))
      .orderBy(col("est").desc, col("term"))
      .limit(k)
  }

  /** HLL register precision: p index bits over the 60-bit md5 hash.
    *
    * Demo default, NOT a production setting: 2^6 = 64 registers give
    * ±1.04/√64 ≈ ±13% relative standard error regardless of corpus
    * size — fine for the oracle fixture (and the error envelope the
    * x90 spec asserts), misleading for a 100 TB novelty gate where a
    * 13% band can swallow a whole day's batch. Production p = 12–14
    * (4096–16384 registers, ±1.6%–0.8%) costs groups×2^p rows — still
    * KB-scale per group and mergeable by union+re-max; every estimator
    * below takes `p` explicitly, so widening is a call-site constant.
    */
  val HllP = 6

  /** Relational HyperLogLog registers (Flajolet et al. 2007): one row
    * per (group, register) with the max leading-zero rank observed.
    * The key hashes with the engine-portable 60-bit md5
    * [[graft.ext.TextAnalysis.hash60]] (the x18/x54/x88 family, so a
    * DuckDB oracle reproduces every register byte-for-byte): the low
    * `p` bits pick the register, the remaining `W = 60 - p` bits yield
    * `rank = W + 1 - bitlength(w)` (W+1 when w = 0). Insertion is
    * idempotent (same key → same register/rank), so no pre-distinct
    * pass is needed — the whole sketch is ONE max-groupBy, map-side
    * partial-aggregated, and the register relation is groups×2^p rows
    * regardless of key cardinality: the distinct-count complement of
    * [[countMinTable]]'s fixed-memory frequency table. Merging sketches
    * (across groups, corpora, or days) = union + re-max — associative,
    * idempotent, no driver state.
    */
  def hllRegisters(keys: DataFrame, key: Column, group: Column,
      p: Int = HllP): DataFrame = {
    require(p >= 4 && p <= 16, s"bad HLL precision: $p")
    val m = 1 << p
    val w = 60 - p
    val h = graft.ext.TextAnalysis.hash60(key)
    keys
      .select(group.as("grp"), h.as("h"))
      // integer div, NOT `/` (Divide on longs is double division — a
      // 60-bit hash would lose low bits past the 53-bit mantissa)
      .select(col("grp"), (col("h") % m).as("j"),
        expr(s"h div $m").as("w"))
      .select(col("grp"), col("j"),
        when(col("w") === 0, lit(w + 1))
          .otherwise(lit(w + 1) - length(bin(col("w")))).as("rk"))
      .groupBy(col("grp"), col("j"))
      .agg(max(col("rk")).as("mx"))
  }

  /** `alpha_m · m² · 2^(W+1)` — the numerator of the scaled-integer
    * harmonic estimator, ONE double constant shared with the DuckDB
    * oracle via `Double.toString` (which round-trips exactly).
    */
  def hllConstant(p: Int): Double = {
    val m = 1 << p
    val alpha = p match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    alpha * m * m * math.pow(2.0, (60 - p + 1).toDouble)
  }

  /** Sketch-based batch novelty: HLL registers of the base and batch
    * key sets, merged by re-max, with `est_new = est(merged) −
    * est(base)` — the inclusion-exclusion distinct-novelty estimate —
    * audited against the exact anti-join count. The mergeable
    * ingest-time face of the exact x70 novelty rate: at 100 TB the
    * base sketch is 2^p rows persisted once (union + re-max across
    * days), the batch pays one hash pass, and NOTHING corpus-scale
    * shuffles for the estimate — only the `exact_new` audit column
    * touches the base key set (drop it in production and the base
    * relation is never re-read).
    */
  def hllNovelty(base: DataFrame, batch: DataFrame, key: String = "sg",
      p: Int = HllP): DataFrame = {
    import graft.engine.Checkpoints.MaterializeOps
    val rb = hllRegisters(base.withColumn("g", lit("base")), col(key),
      col("g"), p)
    val rq = hllRegisters(batch.withColumn("g", lit("batch")), col(key),
      col("g"), p)
    val regs = rb.unionByName(rq).materialized
    val merged = regs.groupBy(col("j")).agg(max(col("mx")).as("mx"))
      .select(lit("merged").as("grp"), col("j"), col("mx"))
    val est = hllEstimate(regs.unionByName(merged), p)
    val wide = est.groupBy()
      .agg(max(when(col("grp") === "base", col("est"))).as("est_base"),
        max(when(col("grp") === "batch", col("est"))).as("est_batch"),
        max(when(col("grp") === "merged", col("est"))).as("est_merged"))
    val exact = batch.select(col(key)).distinct()
      .join(base.select(col(key)).distinct(), Seq(key), "left_anti")
      .agg(count(lit(1)).as("exact_new"))
    wide.crossJoin(broadcast(exact))
      .select(col("est_base"), col("est_batch"), col("est_merged"),
        round(col("est_merged") - col("est_base"), 6).as("est_new"),
        col("exact_new"),
        when(col("exact_new") === 0, lit(null).cast("double"))
          .otherwise(round(
            abs(round(col("est_merged") - col("est_base"), 6)
              - col("exact_new")) / col("exact_new"), 6)).as("rel_err"))
  }

  /** HLL estimate per group from a register relation: the harmonic-mean
    * estimator `alpha_m · m² / Σ 2^(−M_j)` with the standard small-range
    * linear-counting correction (`m·ln(m/V)` when V empty registers
    * remain and the raw estimate ≤ 2.5m). The indicator sum is kept
    * EXACT by scaling to integers: Σ 2^(W+1−M_j) over hit registers
    * plus `(m − hits)·2^(W+1)` for empty ones is a BIGINT (every
    * M_j ∈ [1, W+1]), so the only floating-point steps are one literal
    * division and the final 6-dp round — engine-portable bit-for-bit.
    */
  def hllEstimate(regs: DataFrame, p: Int = HllP): DataFrame = {
    val m = 1 << p
    val w = 60 - p
    val c = hllConstant(p)
    regs
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("hits"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${w + 1} - mx AS INT))"))
          .as("sbits"))
      .select(col("grp"),
        (lit(m) - col("hits")).as("v"),
        (col("sbits") +
          (lit(m) - col("hits")) * lit(1L << (w + 1))).as("s"))
      .select(col("grp"), col("v"),
        round(
          when(col("v") > 0 &&
              lit(c) / col("s") <= lit(2.5 * m),
            lit(m.toDouble) * log(lit(m).cast("double") / col("v")))
            .otherwise(lit(c) / col("s")),
          6).as("est"))
  }

  /** Log-linear quantile sketch buckets — the DDSketch idea (Masson,
    * Rim & Lee, VLDB'19, "DDSketch: a fast and fully-mergeable quantile
    * sketch with relative-error guarantees") on EXACT integer bucket
    * arithmetic: a value v ≥ 1 lands in octave b = bit_length(v) and
    * linear sub-bucket ((v − 2^(b−1))·S) div 2^(b−1), i.e. `subBuckets`
    * equal slices per power of two — relative bucket width ≤ 1/S, so any
    * quantile read from the sketch carries ≤ 1/S relative error (12.5%
    * at the default S = 8; production S = 64 → ≤ 1.6%, still only
    * 64·log₂(max) counters per group). Completes the mergeable-sketch
    * trio next to [[countMinTable]] (frequencies) and [[hllRegisters]]
    * (distincts): quantiles of doc length / quality / cost columns at
    * ingest time, unioned across days by summing counts — no raw-value
    * retention, no exact percentile sort over 100 TB.
    *
    * The bucket index is a pure INTEGER function of v (bit-length via
    * `length(bin(v))`, shift, integral divide) — no logs, no doubles —
    * so engines and partitionings agree exactly, and the sketch merge is
    * a plain (grp, b, sub) count-sum. Values below 1 clamp to 1
    * (documented; n_chars-class columns are non-negative).
    *
    * Scale shape: one narrow map + one keyed agg to
    * groups × S·log₂(max) rows. Nothing retains the corpus.
    */
  def quantileBuckets(df: DataFrame, group: Column, value: Column,
      subBuckets: Int = 8): DataFrame = {
    require(subBuckets >= 1, s"subBuckets must be >= 1: $subBuckets")
    df.select(group.as("grp"),
      greatest(value.cast("long"), lit(1L)).as("v"))
      .withColumn("b", length(bin(col("v"))))
      .withColumn("lo", expr("shiftleft(CAST(1 AS BIGINT), b - 1)"))
      .withColumn("sub", expr(s"((v - lo) * $subBuckets) div lo"))
      .groupBy(col("grp"), col("b"), col("sub"), col("lo"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile read-out over a [[quantileBuckets]] relation (or a
    * count-summed merge of several): for each q, the bucket where the
    * cumulative count crosses q·n, linearly interpolated inside the
    * bucket. All bucket bounds are integer-derived (lo·(S+sub)/S with
    * /S exact for power-of-two S), so both engines interpolate the
    * identical doubles. Output: (grp, q, n, est_value), one row per
    * group × quantile — groups-bounded.
    */
  def quantileEstimates(sketch: DataFrame, qs: Seq[Double],
      subBuckets: Int = 8): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1))
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DoubleType
    val s = subBuckets
    val w = Window.partitionBy(col("grp")).orderBy(col("b"), col("sub"))
    // group total as an unbounded window over the SAME partitioning —
    // one Exchange feeds both, and no self-join (which also breaks on
    // re-read sinks like the streaming memory table)
    val wAll = Window.partitionBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = sketch
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val blo = (col("lo") * (lit(s) + col("sub"))).cast(DoubleType) / s
    val bhi = (col("lo") * (lit(s) + col("sub") + 1)).cast(DoubleType) / s
    cum
      .select(col("grp"), col("n"), col("lo"), col("sub"), col("cnt"),
        col("cum"), col("cum_before"),
        explode(array(qs.map(lit): _*)).as("q"))
      .withColumn("target", col("q") * col("n"))
      .filter(col("cum_before") < col("target") &&
        col("target") <= col("cum"))
      .select(col("grp"), col("q"), col("n"),
        round(blo + (bhi - blo) *
          (col("target") - col("cum_before")) / col("cnt"), 6)
          .as("est_value"))
  }
}
