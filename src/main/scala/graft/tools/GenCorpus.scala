package graft.tools

import org.apache.spark.sql.SaveMode

/** Synthetic `documents` / `embeddings` corpora for scale-exponent runs
  * (dev tool — the oracle testdata stays driver-owned; this only feeds
  * SCALE.md's measured time@10x/time@1x rows).
  *
  * Reproduces the driver corpus's statistical shape at arbitrary n so a
  * 10x run differs from the 1x run ONLY in row count: the same ~40-word
  * vocabulary (so shingle-space saturation behaves like the oracle
  * tables), 8–96 words/doc, 20 fixed sources, the 40/15/15/15/15 lang
  * mix, a 0.16% exact-duplicate rate and a 0.4% one-word near-duplicate
  * rate (pairing doc i with doc i-1), and 64-dim label-clustered float
  * embeddings over 10 labels. Fully deterministic: every row is a pure
  * function of its id, generated distributively (`spark.range(n).map`) —
  * no driver-side corpus materialization, so the generator itself holds
  * at any n.
  *
  * Two modes (round 15):
  *  - `iid` (default): the uniform vocabulary-saturated regime above —
  *    the designed ADVERSARIAL shape for the dedup families (every df
  *    ∝ n, zero cold keys).
  *  - `skew`: the shape production crawls actually have — Zipf(1.0)
  *    word draw over the same vocabulary (head words saturate, tail
  *    words stay discriminative), Zipf(1.0) source popularity, and
  *    Zipf-popular CLUSTERED embeddings (label popularity ∝ 1/rank,
  *    tighter noise), so an id-contiguous embedding batch lands in few
  *    cells naturally (the daily-crawl locality the knnlocal probe
  *    previously had to fake by perturbing cell members) and the
  *    auto-switch decision boundaries can be re-confirmed off the
  *    uniform regime. Dup/near-dup schedules identical in both modes.
  *
  * Usage: runMain graft.tools.GenCorpus <outDir> <nDocs> <nVecs> [mode]
  */
object GenCorpus {

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Seq[Float], label: Int)

  private val vocab: Array[String] = Array(
    "spark", "line", "column", "order", "sort", "fast", "value", "scan",
    "hash", "slow", "group", "batch", "part", "vector", "query", "agg",
    "table", "stream", "filter", "big", "merge", "small", "a", "the",
    "join", "key", "window", "data", "customer", "supplier", "region",
    "nation", "shuffle", "broadcast", "codegen", "plan", "stage", "task",
    "row", "page")

  /** Cumulative Zipf(1.0) weights over ranks 0..k−1 — tiny constant
    * tables (≤ 40 doubles), computed once per JVM per k. */
  private val zipfCdfCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  private def zipfCdf(k: Int): Array[Double] =
    zipfCdfCache.computeIfAbsent(k, { kk =>
      val w = (1 to kk).map(r => 1.0 / r).toArray
      val total = w.sum
      val cdf = new Array[Double](kk)
      var acc = 0.0
      var i = 0
      while (i < kk) { acc += w(i) / total; cdf(i) = acc; i += 1 }
      cdf
    })
  private def zipfDraw(rnd: java.util.Random, k: Int): Int = {
    val cdf = zipfCdf(k)
    val u = rnd.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    math.min(i, k - 1)
  }

  /** Base text for seed i — pure, so a near-dup row can re-derive its
    * neighbour's text without reading it. */
  private[graft] def docText(i: Long, skew: Boolean = false): String = {
    val rnd = new java.util.Random(i * 2654435761L + 42)
    val n = 8 + rnd.nextInt(89)
    val sb = new StringBuilder
    var w = 0
    while (w < n) {
      if (w > 0) sb.append(' ')
      sb.append(vocab(
        if (skew) zipfDraw(rnd, vocab.length) else rnd.nextInt(vocab.length)))
      w += 1
    }
    sb.toString
  }

  private[graft] def doc(i: Long, skew: Boolean = false): Doc = {
    val rnd = new java.util.Random(i * 7919L + 7)
    // dup/near-dup schedules are disjoint mod classes (624 vs 100 mod
    // 250 never coincide, and neither base row i-1 is itself special),
    // so the injected rates are exact and scale-invariant
    val text =
      if (i % 625 == 624) docText(i - 1, skew)
      else if (i > 0 && i % 250 == 100) {
        val w = docText(i - 1, skew).split(' ')
        w((i % w.length).toInt) = vocab((i % vocab.length).toInt)
        w.mkString(" ")
      } else docText(i, skew)
    val p = rnd.nextInt(100)
    val lang =
      if (p < 40) "en" else if (p < 55) "fr" else if (p < 70) "de"
      else if (p < 85) "es" else "zh"
    val src =
      if (skew) "src" + zipfDraw(rnd, 20) else "src" + rnd.nextInt(20)
    Doc(i, text, lang, src, text.length.toLong)
  }

  /** Label-clustered embedding: a per-label center (pure function of the
    * label) plus per-row noise — gives the IVF/SemDeDup paths real cell
    * structure at every n. Skew mode draws the label Zipf(1.0) (head
    * label ≈ 28% of rows) with tighter noise, so cell populations are
    * skewed and id-contiguous batches are naturally cell-localized. */
  private[graft] def vec(i: Long, skew: Boolean = false): Vec = {
    val rnd = new java.util.Random(i * 6364136223846793005L + 1442695040888963407L)
    val label = if (skew) zipfDraw(rnd, 10) else rnd.nextInt(10)
    val noise = if (skew) 0.2f else 0.4f
    val c = new java.util.Random(9176L + label)
    val e = new Array[Float](64)
    var d = 0
    while (d < 64) {
      e(d) = (c.nextFloat() * 2 - 1) * 0.8f + (rnd.nextFloat() * 2 - 1) * noise
      d += 1
    }
    Vec(i, e.toSeq, label)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nDocsS = args(1)
    val nVecsS = args(2)
    val skew = args.length > 3 && (args(3) match {
      case "skew" => true
      case "iid" => false
      case other => sys.error(s"mode must be iid|skew, got '$other'")
    })
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.engine.GraftSession.build(
      s"local[$cpus]", "graft-gencorpus", cpus.toInt)
    import spark.implicits._
    spark.range(nDocsS.toLong).map(i => doc(i, skew)).write
      .mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")
    spark.range(nVecsS.toLong).map(i => vec(i, skew)).write
      .mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
    println(s"wrote $nDocsS docs + $nVecsS vecs under $outDir " +
      s"(mode=${if (skew) "skew" else "iid"})")
    spark.stop()
  }
}
