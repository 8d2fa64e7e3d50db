package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Headline benchmark main. Prints ONE JSON line to stdout for the driver
  * and writes a fuller artifact to bench_result.json plus a committed copy
  * under bench_runs/ so BASELINE.md bands cite auditable artifacts.
  *
  * Measurement protocol (round 8): each query runs `SPARK_GRAFT_BENCH_PASSES`
  * (default 3) in-JVM passes; the REPORTED number is the MIN across passes —
  * the noise-free estimator for a deterministic workload. Two rounds running,
  * a single-pass artifact was contaminated by ambient host load (x37 11.8 s
  * vs 1.4 s re-measured) and needed judge re-adjudication; best-of-N defends
  * itself. A query that throws records an "err" marker instead of a timing —
  * a broken query must never masquerade as a fast green row.
  *
  * Round 17: each pass additionally records executor CPU time (and GC
  * time) via a SparkListener, and the per-query breach gate PREFERS the
  * CPU reference when the committed artifact carries one — wall time on
  * a shared host cannot distinguish a regression from a noisy neighbor
  * (every flag from r9 through r16 adjudicated ambient), executor CPU
  * can. Wall remains the reported headline and the fallback gate.
  */
object Bench {
  /** Stdout "queries" map cap — the slowest StdoutTopK queries print
    * individually, the rest fold into the rq/rsum bucket. BenchIdSpec
    * models the worst-case line at exactly this cap.
    */
  private[graft] val StdoutTopK = 120

  /** A committed artifact's per-query reference: the wall min (always
    * present) and, when the artifact carries it (round 17+), the
    * executor-CPU min. The flag gate PREFERS the CPU reference —
    * executor CPU time is invariant to ambient host load, the cause of
    * every adjudicated flag from round 9 through 16 (5 in BENCH_r16
    * alone, all solo'd back in band), so gating on it retires the
    * ambient-flag class at the source. Wall stays as the fallback for
    * pre-r17 references and as the human-readable headline.
    */
  private[graft] final case class Ref(wall: Double, cpu: Option[Double])

  /** Per-query references out of a committed detail artifact. The
    * entry pattern requires the `,"passes":[…],"err":` tail so the
    * nested `"solo":{"min":…}` object can never masquerade as a query
    * named "solo" — and when an entry CARRIES a solo re-run, the
    * reference is min(outer, solo) for wall and CPU alike: the solo is
    * the artifact's own adjudication of an ambient-inflated outer min
    * (solos exist ONLY for flagged entries), so using the outer value
    * alone would let a flagged run poison the next run's baseline
    * upward and mask a real regression. Since round 17 solos run with
    * the graft session caches cleared (see the solo block below), so
    * the substituted min is band-comparable, not a warm-path floor —
    * closing the ratchet where warm solo mins tightened the gate and
    * manufactured future false flags. Round-18 optional markers
    * (`"dt"` drain-timeout count, `"cr"` cache-rider, `"wb"`
    * ungated wall breach, `"fl"` unadjudicated induced-run flag) are
    * tolerated between the cpu block and the solo object. Unit-pinned
    * in BenchIdSpec, including pre-r17 artifacts without the cpu
    * fields.
    */
  private[graft] def parseRefs(t: String): Map[String, Ref] = {
    val m = java.util.regex.Pattern.compile(
      "\"([A-Za-z0-9_]+)\":\\{\"min\":([0-9.]+),\"passes\":\\[[^\\]]*\\]" +
        ",\"err\":(?:null|\"[^\"]*\")" +
        "(?:,\"cpu\":([0-9.]+),\"cpuPasses\":\\[[^\\]]*\\],\"gc\":[0-9.]+)?" +
        "(?:,\"dt\":\\d+)?(?:,\"cr\":true)?(?:,\"wb\":true)?" +
        "(?:,\"fl\":true)?" +
        "(?:,\"solo\":\\{\"min\":([0-9.]+),\"passes\":\\[[^\\]]*\\]" +
        "(?:,\"cpu\":([0-9.]+))?)?")
      .matcher(t)
    val b = Map.newBuilder[String, Ref]
    while (m.find()) {
      val outer = m.group(2).toDouble
      val cpu = Option(m.group(3)).map(_.toDouble)
      val soloWall = Option(m.group(4)).map(_.toDouble)
      val soloCpu = Option(m.group(5)).map(_.toDouble)
      val wall = soloWall.fold(outer)(math.min(outer, _))
      val cpuRef = (cpu, soloCpu) match {
        case (Some(c), Some(s)) => Some(math.min(c, s))
        case (c, None) => c
        case (None, s) => s
      }
      b += (m.group(1) -> Ref(wall, cpuRef))
    }
    b.result()
  }

  /** Combine the per-query references of a WINDOW of recent committed
    * artifacts (newest first) into one reference map via the per-query
    * UPPER MEDIAN — round-18 fix for the r17 self-poisoning finding:
    * the single-newest-artifact rule made a deliberately degraded
    * experiment run the binding baseline, and per-query CPU on
    * cache-amortized queries measured a 0.45×–2.5× spread across
    * same-code runs, so one anomalous artifact manufactured three
    * false CPU flags (x124/x147/x17, BENCH_r17). With the upper
    * median over up to 3 artifacts, ONE anomalously low run can never
    * bind the gate (it takes two of three), and one anomalously high
    * run cannot mask a regression either. Wall and CPU windows are
    * independent: a pre-r17 wall-only artifact still contributes its
    * wall while the CPU median forms over the artifacts that carry
    * CPU. Unit-pinned in BenchIdSpec.
    */
  private[graft] def windowRefs(maps: Seq[Map[String, Ref]])
      : Map[String, Ref] = {
    def upperMedian(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2)
    }
    maps.flatMap(_.keySet).distinct.map { n =>
      val refs = maps.flatMap(_.get(n))
      val cpus = refs.flatMap(_.cpu)
      n -> Ref(upperMedian(refs.map(_.wall)),
        if (cpus.isEmpty) None else Some(upperMedian(cpus)))
    }.toMap
  }

  /** The per-query flag gate (BASELINE.md's standing discipline). */
  private[graft] def breaches(v: Double, ref: Double): Boolean =
    v > math.max(2 * ref, ref + 0.5)

  /** Flag decision for one query: gate on executor CPU when BOTH this
    * run and the reference carry it (host-load-invariant); fall back
    * to wall for pre-r17 references. Unit-pinned in BenchIdSpec.
    */
  private[graft] def isFlagged(wallMin: Option[Double],
      cpuMin: Option[Double], ref: Ref): Boolean =
    (ref.cpu, cpuMin) match {
      case (Some(rc), Some(c)) => breaches(c, rc)
      case _ => wallMin.exists(breaches(_, ref.wall))
    }

  /** A wall breach the CPU gate absorbed: CPU in band on both sides
    * but wall past the gate. Never fires a solo (that is the ambient
    * class the CPU gate exists to retire — every such flag from r9
    * through r16 adjudicated ambient) but IS recorded in the artifact
    * (`"wb":true`) and on stderr, so a real wall-without-CPU
    * regression (IO wait, lock contention, spill) stays visible for
    * adjudication instead of silently never flagging.
    */
  private[graft] def ungatedWallBreach(wallMin: Option[Double],
      cpuMin: Option[Double], ref: Ref): Boolean =
    (ref.cpu, cpuMin) match {
      case (Some(rc), Some(c)) =>
        !breaches(c, rc) && wallMin.exists(breaches(_, ref.wall))
      case _ => false
    }

  /** Task-granular executor CPU + GC accumulator. Registered once;
    * timeQuery snapshots around each pass after draining the listener
    * bus so the delta attributes to exactly that pass's tasks.
    */
  private final class CpuGcListener
      extends org.apache.spark.scheduler.SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val gcMs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  /** Drop every JVM-session-lifetime graft memo (trained centroids,
    * kNN edge relations, dedup pair/cluster artifacts, entropy models)
    * plus Spark's DataFrame cache. Called before each solo re-run so a
    * flagged lifecycle query's solo min re-pays its builds exactly as
    * the committed full-run band did, instead of reading a warm-path
    * floor that ratchets the next run's reference downward (round-16
    * verdict #4: x139 solo 1.54 s vs its 2.2–2.8 s committed band).
    */
  private def clearSessionCaches(spark: SparkSession): Unit = {
    graft.ext.Similarity.invalidateTrainedCentroids()
    graft.ext.Similarity.invalidateKnnEdges()
    graft.ext.Dedup.invalidateDedupArtifacts()
    graft.ext.TextAnalysis.invalidateEntropyCache()
    spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    require(passes >= 1, "SPARK_GRAFT_BENCH_PASSES must be >= 1")
    val spark = graft.engine.GraftSession.build(
      s"local[$cpus]", "graft-bench", cpus.toInt)
    // optional "k=v,k=v" runtime-conf overrides for conf-keyed measured
    // runs (e.g. spark.graft.checkpoint.mode=reliable for SCALE.md's
    // durability-overhead rows) — applied after the build so an override
    // always wins
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    // ERROR, not WARN: the driver captures a bounded log window around the
    // one-line JSON result; Spark WARN chatter (broadcast-size warnings ×70
    // queries) overflowed it in round 4 and truncated the artifact
    spark.sparkContext.setLogLevel("ERROR")
    // warm the JVM/codegen/file-listing paths so the first timed query
    // doesn't absorb session startup — includes a 64-doc pass over the
    // shingle + hashed-index codegen (the heaviest generated classes;
    // measured ~2 s of one-time JIT otherwise landing on x06)
    spark.range(1000).selectExpr("sum(id)").collect()
    try {
      graft.engine.Tables.load(spark, sfDir, "lineitem").count()
      val d = graft.engine.Tables.load(spark, sfDir, "documents").limit(64)
      graft.ext.Dedup.jaccardPairsIndexHashed(d, 3, 0.5).count()
      // x37's lineage shares no generated classes with the index path
      // (ObjectHashAggregate collect_set + the interpreted pair-expansion
      // HOFs) — measured ~1.3 s of one-time JIT landing on the recorded
      // x37 row without this 64-doc pass
      graft.ext.Dedup.sourceOverlap(d, 3).count()
    } catch { case _: Throwable => () }
    // optional comma-separated query-name filter for targeted re-measures
    // under the one-JVM-at-a-time protocol (BASELINE.md). Unknown names
    // fail loudly: a typo would otherwise time zero queries and emit a
    // total of 0.0 that a consumer could mistake for a full-bench result.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      // empty/whitespace values parse to an empty set, which would time
      // zero queries and emit a 0.0 total — the exact silent failure
      // this guard exists for
      require(names.nonEmpty,
        "SPARK_GRAFT_ONLY is set but names no queries")
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // executor CPU + GC accumulator for the host-noise-invariant gate
    // (round-16 verdict #1); registered before any timed work
    val cpuListener = new CpuGcListener
    spark.sparkContext.addSparkListener(cpuListener)
    def drain(): Boolean = org.apache.spark.graft.MetricsBridge
      .drainListenerBus(spark.sparkContext, 10000L)

    /** Per-query outcome: wall timings of successful passes (seconds),
      * the matching executor-CPU seconds and GC seconds per pass with
      * a per-pass attribution-trust bit (both the pre-snapshot and the
      * post-run listener-bus drains completed — a timed-out drain
      * means the delta may credit another pass's tasks, the suspected
      * mechanism for the degraded r17 run's anomalously LOW cache-
      * rider CPUs that then bound the gate), whether the query rode
      * the session memos (cache-rider), the generated-class compiles
      * and compile milliseconds of each successful pass, and the first
      * error message if any pass threw. The first failing pass stops
      * further passes for that query — re-running a broken query buys
      * nothing and a slow failure would triple the wasted wall time.
      */
    case class QRes(name: String, times: Seq[Double], cpus: Seq[Double],
        gcs: Seq[Double], trusted: Seq[Boolean], rider: Boolean,
        compiles: Seq[Long], compileMs: Seq[Double], err: Option[String]) {
      def min: Option[Double] = if (times.nonEmpty) Some(times.min) else None
      // CPU min over TRUSTED passes only: a misattributed delta must
      // never become this run's number nor the next run's reference.
      // The min's PASS INDEX is tracked directly (not recovered by
      // value with indexOf, which an untrusted pass carrying the same
      // rounded CPU could shadow) so gcOfMinCpu reads the gc of the
      // exact pass that produced the trusted min.
      private def trustedIdx: Seq[Int] =
        trusted.zipWithIndex.collect { case (true, i) => i }
      def cpuMin: Option[Double] =
        trustedIdx.map(cpus).minOption
      def drainTimeouts: Int = trusted.count(!_)
      // GC of the min-CPU pass — the diagnostic that explains a CPU
      // outlier (a GC storm inflates on-CPU time too)
      def gcOfMinCpu: Option[Double] =
        trustedIdx.minByOption(cpus).map(gcs)
    }
    /** Total occupancy of the JVM-session-lifetime graft memos — the
      * cache-rider detector: timeQuery clears every memo before its
      * first pass, so a query whose pass leaves the memos non-empty
      * provably built (and would on later passes ride) session state.
      */
    def memoOccupancy(): Int =
      graft.ext.Similarity.trainCacheSize +
        graft.ext.Similarity.edgeCacheSize +
        graft.ext.Dedup.artifactCacheSize +
        graft.ext.TextAnalysis.entropyCacheSize
    def timeQuery(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : QRes = {
      var err: Option[String] = None
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val cpus = scala.collection.mutable.ArrayBuffer.empty[Double]
      val gcs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val trusted = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      val compiles = scala.collection.mutable.ArrayBuffer.empty[Long]
      val compileMs = scala.collection.mutable.ArrayBuffer.empty[Double]
      // every query starts self-contained (round-17 verdict #6: the
      // in-suite CPU of a memo-riding query measured "whoever paid the
      // build this pass", spread 0.45×–2.5× across same-code runs):
      // clearing first makes pass 1 COLD for every query — free for
      // the ~180 non-riders (clearing empty maps) and band-defining
      // for the riders
      clearSessionCaches(spark)
      var rider = false
      var p = 0
      while (p < passes && err.isEmpty) {
        // a detected rider re-clears before EVERY pass so each pass
        // re-pays its builds identically — in-suite min == solo min ==
        // band-comparable, run-invariant CPU
        if (rider && p > 0) clearSessionCaches(spark)
        // drain stragglers from the PREVIOUS pass/query before
        // snapshotting, so the CPU delta is this pass's tasks only
        val preOk = drain()
        val cpu0 = cpuListener.cpuNs.get()
        val gc0 = cpuListener.gcMs.get()
        // JVM-wide codegen counters: in local mode the driver's and the
        // executors' compiles both land here
        val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cns0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        try {
          // toRdd.count(), NOT Dataset.count(): the latter rewrites the
          // plan to a count aggregate and lets Catalyst prune every
          // column the count doesn't need — x50's whole span-rewrite
          // (and x40's regex chain) collapsed to a row count, timing a
          // plan the user never runs. toRdd executes the SAME physical
          // plan with all output columns materialized, codegen intact,
          // rows consumed executor-side — what Verify's parquet write
          // pays, minus the write.
          fn(spark, sfDir).queryExecution.toRdd.count()
          times += (System.nanoTime() - t0) / 1e9
          // wall stops BEFORE the drain: the drain is measurement
          // plumbing, not query cost; CPU reads AFTER it so every
          // task-end event of this pass has landed
          val postOk = drain()
          cpus += (cpuListener.cpuNs.get() - cpu0) / 1e9
          gcs += (cpuListener.gcMs.get() - gc0) / 1e3
          trusted += (preOk && postOk)
          compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
          compileMs += (CodeGenerator.compileTime - cns0) / 1e6
          if (p == 0) rider = memoOccupancy() > 0
        } catch {
          case e: Throwable =>
            err = Some(Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200))
        }
        p += 1
      }
      QRes(name, times.toSeq, cpus.toSeq, gcs.toSeq, trusted.toSeq,
        rider, compiles.toSeq, compileMs.toSeq, err)
    }
    val results: Seq[QRes] = selected.map { case (name, fn) =>
      timeQuery(name, fn)
    }

    // ---- per-query flag self-adjudication (BASELINE.md's standing
    // ambient discipline as harness behavior, round-15 verdict #5):
    // a query whose min breaches max(2×, +0.5 s) vs the last committed
    // same-sf artifact is re-run SOLO in this same JVM at end of run,
    // and both numbers land in the artifact — the manual solo-
    // re-measure/confirm loop becomes data the next reader adjudicates
    // directly (and the flag that post-dates a session close is never
    // again left unadjudicated). The reference is the per-query UPPER
    // MEDIAN over the newest 3 eligible bench_runs artifacts for the
    // same sf tag (round-18 verdict #1: the single-newest rule let one
    // anomalous run — r17's deliberately degraded spinner experiment —
    // become the binding gate and manufacture three false CPU flags);
    // eligible = not "partial" (SPARK_GRAFT_ONLY runs) and not
    // "induced" (deliberately degraded experiments, committed for the
    // record but never a baseline). Override: SPARK_GRAFT_BENCH_REF
    // pins a single explicit artifact. Filtered runs skip this — they
    // ARE the solo protocol.
    val runsDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS_DIR", "bench_runs"))
    val sfTag = sfDir.replaceAll(".*/", "").replaceAll("[^A-Za-z0-9.]", "_")
    def refMins(): Map[String, Ref] = {
      val explicit = sys.env.get("SPARK_GRAFT_BENCH_REF")
        .map(java.nio.file.Paths.get(_))
      val candidates = explicit.map(Seq(_)).getOrElse {
        if (!java.nio.file.Files.isDirectory(runsDir)) Seq.empty
        else {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.list(runsDir).iterator().asScala
            .filter(_.getFileName.toString
              .matches(s"bench_\\d{8}T\\d{6}_${java.util.regex.Pattern
                .quote(sfTag)}\\.json"))
            .toSeq.sortBy(_.getFileName.toString).reverse
        }
      }
      val texts = candidates.iterator.flatMap { p =>
        try {
          val t = java.nio.file.Files.readString(p)
          if (t.contains("\"partial\":true") ||
              t.contains("\"induced\":true")) None
          else Some(t)
        } catch { case _: java.io.IOException => None }
      }.take(3).toSeq
      windowRefs(texts.map(parseRefs))
    }
    // a deliberately degraded experiment run (spinner demos, drain-
    // stress probes): committed for the record like any run, but
    // marked so refMins() never lets it become a binding baseline —
    // the r17 self-poisoning finding
    val induced = sys.env.get("SPARK_GRAFT_BENCH_INDUCED")
      .exists(v => v.equalsIgnoreCase("true") || v == "1")
    val refs: Map[String, Ref] =
      if (only.isDefined) Map.empty else refMins()
    val flagged: Seq[String] = results.filter { r =>
      refs.get(r.name).exists(isFlagged(r.min, r.cpuMin, _))
    }.map(_.name)
    val solo: Map[String, QRes] =
      // an induced run's solos would inherit the same deliberate
      // degradation and cannot adjudicate anything (measured: x146's
      // 20-spinner solo read 15.4 s cpu vs its 6.8–8.1 quiet band) —
      // record the flags as "fl" markers instead and let the next
      // QUIET run's window adjudicate
      if (induced) Map.empty
      else
        // timeQuery itself clears the session memos before pass 1 (and
        // every pass of a detected rider), so the solo is cache-honest
        // by construction (round-16 verdict #4)
        flagged.map(n => n -> timeQuery(n, SparkEntry.queries(n))).toMap
    // wall breaches the CPU gate absorbed: recorded (artifact "wb"
    // marker + stderr), never solo'd — visible for adjudication
    // without re-opening the ambient-flag class
    val wallBreached: Set[String] = results.filter { r =>
      refs.get(r.name).exists(ungatedWallBreach(r.min, r.cpuMin, _))
    }.map(_.name).toSet
    if (wallBreached.nonEmpty)
      System.err.println("bench: CPU-in-band wall breaches (ambient " +
        "class, not solo'd): " + wallBreached.toSeq.sorted.mkString(", "))
    // rounded output halves the line length (70 queries × full-precision
    // doubles overflowed the driver's capture window in round 4); explicit
    // ROOT locale so a comma-decimal host locale can't corrupt the JSON.
    // The stdout line uses 1 decimal per query (151 entries must fit the
    // driver's 2000-char window — BenchIdSpec gates the worst-case
    // budget; 2 decimals overflowed it at 151); the bench_result.json
    // artifact keeps 3 and is the precision source for BASELINE.md.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def r2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def r1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    // stdout per-query format: 1 decimal below 10 s, integer seconds
    // above (0.1 s is noise at that magnitude and the artifact keeps 3
    // decimals) — caps the per-value width at 3 chars up to 999 s, which
    // is what lets the 163-query map fit the driver's capture window
    // (BenchIdSpec gates the worst case at this width)
    def rq(v: Double): String =
      if (v >= 9.95) String.format(java.util.Locale.ROOT, "%.0f",
        Double.box(v))
      else r1(v)
    // The stdout "queries" map is CAPPED at the `stdoutTopK` most
    // expensive queries (errored queries rank first — a broken run is
    // exactly when the parsed stdout matters most); the remainder is
    // folded into a counted bucket `"rq":<n>,"rsum":<sec>`. At 176
    // queries the uncapped map was 1,865 of the driver's 2,000-char
    // window (round-12 verdict) — one more round of queries would have
    // truncated the line back to parsed=null. The cap bounds the line
    // at ANY query count; the cut queries are all in the fastest tail
    // (everything ≥ ~0.35 s at sf0.1 still prints individually) and the
    // committed bench_runs artifact always carries every query at full
    // precision — it, not stdout, is the per-query regression source.
    val ranked = results.sortBy(r =>
      (if (r.err.isDefined) 0 else 1, -r.min.getOrElse(0.0), r.name))
    val (shownR, restR) = ranked.splitAt(StdoutTopK)
    val shown = shownR.sortBy(_.name)
    // reported per-query number = min across passes; -1 marks an error so
    // the driver's name→number contract still parses
    def toJson(f: String => String): String = shown
      .map { r => "\"" + f(r.name) + "\":" + r.min.map(rq).getOrElse("-1") }
      .mkString("{", ",", "}")
    // errored queries rank FIRST, so errors overflow into this bucket
    // only when more than StdoutTopK queries broke; their -1 markers
    // can't print from here, so an explicit "rqe" count keeps rq from
    // reading as "rq timed queries summing to rsum" on such a run
    // ("ne" still carries the exact total either way)
    val restField =
      if (restR.isEmpty) ""
      else {
        val restErrs = restR.count(_.err.isDefined)
        s""","rq":${restR.size},"rsum":${r1(restR.flatMap(_.min).sum)}""" +
          (if (restErrs == 0) "" else s""","rqe":$restErrs""")
      }
    val errNames = results.filter(_.err.isDefined).map(_.name)
    val total = results.flatMap(_.min).sum
    // summed executor-CPU mins: the one host-noise-invariant number on
    // the stdout line (per-query CPU lives in the artifact)
    val totalCpu = results.flatMap(_.cpuMin).sum
    // a filtered run is flagged so its total can't be ingested as a
    // full-bench total
    val partial = if (only.isDefined) ""","partial":true""" else ""
    // flag count on stdout (detail in the artifact): a nonzero "adj"
    // tells the driver's reader the run carries self-adjudicated
    // breaches without spending window on their ids; "wb" counts the
    // CPU-in-band wall breaches the gate absorbed (ambient class)
    val adjField = if (solo.isEmpty) "" else s""","adj":${solo.size}"""
    val wbField =
      if (wallBreached.isEmpty) "" else s""","wb":${wallBreached.size}"""
    // induced runs record flag COUNT (no solos fire — see above)
    val flField =
      if (induced && flagged.nonEmpty) s""","fl":${flagged.size}"""
      else ""
    val inducedField = if (induced) ""","induced":true""" else ""
    // the stdout errs field is BOUNDED (first 4 ids + an "ne" total):
    // an unbounded list on a badly broken run — exactly when the parsed
    // stdout matters most — could push the line past the driver's
    // 2000-char capture window and truncate it back to parsed=null.
    // BenchIdSpec gates the worst case WITH this bounded field present;
    // the full per-query err detail is always in bench_result.json.
    // bound dropped 4 → 2 at 174 queries: the per-query map itself now
    // fills most of the window, and 2 example ids + the exact count
    // still name a broken run (full detail in bench_result.json)
    val errsField =
      if (errNames.isEmpty) ""
      else s""","ne":${errNames.size}""" +
        errNames.take(2).map(n => "\"" + SparkEntry.shortId(n) + "\"")
          .mkString(""","errs":[""", ",", "]")
    // stdout carries the sf BASENAME (the full dir path lives in the
    // bench_result.json artifact): 15 chars of the driver's 2000-char
    // capture window buy ~3 more queries of headroom at 1-dp values
    val sfShort = sfDir.replaceAll(".*/", "")
    def line(qs: String): String =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","cpu":${r1(totalCpu)},"queries":$qs,"sf":"$sfShort","passes":$passes$restField$errsField$adjField$wbField$flField$partial$inducedField}"""
    // The driver keeps only the LAST 2000 chars of stdout (every recorded
    // BENCH_r*.json tail is exactly 2000), and sbt's trailing "[success]"
    // line eats ~85 of them — the full query names (~35 bytes/entry,
    // ~3 KB for the suite) can never fit, which is why rounds 1-6 all
    // recorded parsed=null. Stdout therefore carries each query's short id
    // (the name up to the first '_': q01..q36, x01..x102 — unique by
    // construction), ~12 bytes/entry so the 138-query suite is ~1.76 KB,
    // inside the window with headroom; the full-name map goes to
    // bench_result.json for BASELINE.md. A fixed take(3) collided in r9
    // (x100/x101/x102 vs x10) and the require aborted the driver's bench —
    // BenchIdSpec now gates both uniqueness AND the line-length budget at
    // build time so a future query addition fails in `sbt test`, not 41
    // minutes into the driver's run.
    val shortIds = results.map(r => SparkEntry.shortId(r.name))
    require(shortIds.distinct.size == shortIds.size,
      "short query ids (prefix before first '_') must be unique for the stdout bench line")
    println(line(toJson(SparkEntry.shortId)))
    // fuller artifact: per-query min + every pass + err, full names,
    // plus the executor-CPU min/passes and the GC seconds of the
    // min-CPU pass ("cpu"/"cpuPasses"/"gc" — the round-17 gate
    // metrics); a self-adjudicated flag additionally carries its SOLO
    // re-run ("solo" min + passes + cpu, caches cleared first) so both
    // numbers are auditable in one place
    def detailJson: String = {
      val qs = results.map { r =>
        val ps = r.times.map(r3).mkString("[", ",", "]")
        val e = r.err.map(m => "\"" + m + "\"").getOrElse("null")
        val cpu = r.cpuMin.fold("") { c =>
          ",\"cpu\":" + r3(c) +
            ",\"cpuPasses\":" + r.cpus.map(r3).mkString("[", ",", "]") +
            ",\"gc\":" + r3(r.gcOfMinCpu.getOrElse(0.0))
        }
        // drain-timeout passes (excluded from the cpu min), cache-
        // rider detection, and CPU-absorbed wall breaches — the
        // round-18 measurement-trust markers
        val dt =
          if (r.drainTimeouts == 0) "" else ",\"dt\":" + r.drainTimeouts
        val cr = if (r.rider) ",\"cr\":true" else ""
        val wb = if (wallBreached.contains(r.name)) ",\"wb\":true" else ""
        // a flag on an INDUCED run gets a marker, not a solo — the
        // solo would inherit the same deliberate degradation
        val fl =
          if (induced && flagged.contains(r.name)) ",\"fl\":true" else ""
        val adj = solo.get(r.name).fold("") { s =>
          ",\"solo\":{\"min\":" + s.min.map(r3).getOrElse("null") +
            ",\"passes\":" + s.times.map(r3).mkString("[", ",", "]") +
            s.cpuMin.fold("")(c => ",\"cpu\":" + r3(c)) + "}"
        }
        // per-pass generated-class compiles and their milliseconds, last
        // so parseRefs' entry pattern is unaffected
        val cc = ",\"compiles\":" + r.compiles.mkString("[", ",", "]") +
          ",\"compileMs\":" + r.compileMs.map(r1).mkString("[", ",", "]")
        "\"" + r.name + "\":{\"min\":" + r.min.map(r3).getOrElse("null") +
          ",\"passes\":" + ps + ",\"err\":" + e + cpu + dt + cr + wb +
          fl + adj + cc + "}"
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","passes":$passes,"queries":$qs$partial$inducedField}"""
    }
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_result.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      detailJson)
    // committed archive so BASELINE.md bands cite an auditable artifact
    // instead of a gitignored file the next run clobbers. Timestamped name:
    // concurrent or successive runs never overwrite each other.
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    java.nio.file.Files.createDirectories(runsDir)
    java.nio.file.Files.writeString(
      runsDir.resolve(s"bench_${stamp}_$sfTag.json"), detailJson)
    spark.stop()
    // a bench run with a broken query must fail loudly at the process level
    // too (the driver records exit status); the artifacts above are still
    // written first so the failure is diagnosable
    if (errNames.nonEmpty) {
      System.err.println(s"bench: ${errNames.size} queries errored: " +
        errNames.mkString(", "))
      sys.exit(1)
    }
  }
}
